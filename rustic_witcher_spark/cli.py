"""CLI driver mirroring the reference's ``anonymize`` command surface
(ref: src/main.rs:30-119): database/schema selection, file-listing mode,
date bounds, included-tables (inline or from file with path-prefix
rule, ref: src/main.rs:26-28,109-119), config dir, seed.

Usage:
    python -m rustic_witcher_spark.cli anonymize \
        --database demo --schema public \
        --source /root/testdata/sf0.001 --target /tmp/out \
        --config-dir ./configs --mode full-load-only

Beyond the reference surface: `datadiff` (only_datadiff parity),
`validate` (O9), `shard` / `shard-verify` (training-shard layout with
integrity manifest, sinks/shards.py), and `ingest` (JSONL/CSV →
normalized parquet with malformed-line quarantine,
sources/text_formats.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from datetime import date
from pathlib import Path

from rustic_witcher_spark.config.loader import load_config
from rustic_witcher_spark.functions.wordlists import DEFAULT_SEED
from rustic_witcher_spark.runner import DEFAULT_NUM_OF_BUFFERS, snapshot
from rustic_witcher_spark.session import get_spark
from rustic_witcher_spark.sinks.parquet import write_parquet
from rustic_witcher_spark.sources.parquet import read_table_files

_MODES = {"full-load-only": "FullLoadOnly", "date-aware": "DateAware", "absolute-path": "AbsolutePath"}


def resolve_postgres_urls(database: str, schema: str, env: dict[str, str] | None = None) -> tuple[str, str]:
    """Env-derived DB URLs, the reference's naming scheme
    (ref: src/main.rs:132-156): ``{DB}_{SCHEMA}_SOURCE_POSTGRES_URL`` and
    ``{DB}_{SCHEMA}_TARGET_POSTGRES_URL`` (both uppercased), each with
    ``/{database}`` appended — the target database name is intentionally
    the source database name.
    """
    env = os.environ if env is None else env
    out = []
    for side in ("SOURCE", "TARGET"):
        key = f"{database.upper()}_{schema.upper()}_{side}_POSTGRES_URL"
        base = env.get(key)
        if base is None:
            raise KeyError(f"{side.title()} Postgres URL could not be loaded (missing env {key})")
        out.append(f"{base}/{database}")
    return out[0], out[1]


def included_tables_from_file(path: str) -> list[str]:
    """One table per line; lines containing '/' keep only the last path
    segment (the reference's prefix rule, src/main.rs:26-28)."""
    tables = []
    for line in Path(path).read_text().splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        tables.append(line.rsplit("/", 1)[-1])
    return tables


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="rustic-witcher-spark")
    sub = p.add_subparsers(dest="command", required=True)
    a = sub.add_parser("anonymize", help="run the per-table anonymization snapshot")
    a.add_argument("--database", required=True)
    a.add_argument("--schema", required=True)
    a.add_argument("--source", required=True, help="directory of table parquet files/dirs")
    a.add_argument("--target", required=True, help="output directory")
    a.add_argument("--config-dir", default=".", help="directory containing <db>-<schema>-sync.toml")
    a.add_argument("--mode", choices=sorted(_MODES), default="full-load-only")
    a.add_argument("--start-date", type=date.fromisoformat, default=None)
    a.add_argument("--stop-date", type=date.fromisoformat, default=None)
    a.add_argument("--included-tables", nargs="*", default=None)
    a.add_argument("--included-tables-from-file", default=None)
    a.add_argument("--excluded-tables", nargs="*", default=None)
    a.add_argument("--num-buffers", type=int, default=DEFAULT_NUM_OF_BUFFERS)
    a.add_argument("--seed", type=int, default=int(os.environ.get("RNG_SEED", DEFAULT_SEED)))
    d = sub.add_parser("datadiff", help="diff a target snapshot against its source per table (only_datadiff parity)")
    d.add_argument("--source", required=True, help="directory of source table parquet")
    d.add_argument("--target", required=True, help="directory of target table parquet")
    d.add_argument("--table", required=True)
    d.add_argument("--pk", nargs="+", required=True)
    v = sub.add_parser("validate", help="run TOML-configured post-import validations over a snapshot dir (O9)")
    v.add_argument("--data", required=True, help="directory of table parquet files (registered as views)")
    v.add_argument("--validations", required=True, help="validations TOML file")
    s = sub.add_parser("shard", help="write deterministic training shards + integrity manifest")
    s.add_argument("--source", required=True, help="input parquet path")
    s.add_argument("--target", required=True, help="output shard directory")
    s.add_argument("--id-col", required=True)
    s.add_argument("--n-shards", type=int, required=True)
    s.add_argument("--seed", type=int, default=int(os.environ.get("RNG_SEED", DEFAULT_SEED)))
    sv = sub.add_parser("shard-verify", help="re-check a shard directory against its manifest")
    sv.add_argument("--path", required=True)
    i = sub.add_parser("ingest", help="normalize a JSONL/CSV dump to parquet (schema-required, quarantined)")
    i.add_argument("--format", choices=["jsonl", "csv"], required=True)
    i.add_argument("--input", required=True)
    i.add_argument("--target", required=True, help="output parquet path")
    i.add_argument("--table", default=None, help="use the built-in DDL for this table (documents/events/supplier)")
    i.add_argument("--schema-ddl", default=None, help="explicit DDL string (overrides --table)")
    i.add_argument("--csv-delimiter", default=",")
    i.add_argument(
        "--quarantine-target",
        default=None,
        help="dead-letter parquet path: write the RAW malformed lines there instead of dropping them",
    )
    c = sub.add_parser(
        "curate",
        help="end-to-end corpus curation: read docs (parquet or JSONL) -> exact dedup -> "
        "quality filter -> deterministic training shards + manifest",
    )
    c.add_argument("--input", required=True, help="documents parquet path or JSONL file")
    c.add_argument("--format", choices=["parquet", "jsonl"], default="parquet")
    c.add_argument("--target", required=True, help="output shard directory")
    c.add_argument("--n-shards", type=int, required=True)
    c.add_argument("--min-quality", type=float, default=0.0, help="drop docs with quality_score below this")
    c.add_argument("--seed", type=int, default=int(os.environ.get("RNG_SEED", DEFAULT_SEED)))
    c.add_argument(
        "--quarantine-target",
        default=None,
        help="dead-letter parquet path for malformed JSONL lines (jsonl format only)",
    )
    ls = sub.add_parser(
        "lm-score",
        help="per-document LM quality scores from the corpus's own statistics: "
        "unigram cross-entropy, plus interpolated bigram cross-entropy with --bigram "
        "(optionally top-V/OOV-truncated via --top-v for web-scale vocabularies)",
    )
    ls.add_argument("--input", required=True, help="documents parquet path")
    ls.add_argument("--target", required=True, help="output parquet for per-doc scores")
    ls.add_argument("--id-col", default="doc_id")
    ls.add_argument("--text-col", default="text")
    ls.add_argument("--bigram", action="store_true", help="also score under the interpolated bigram model")
    ls.add_argument("--lam", type=float, default=0.7, help="bigram interpolation weight (default 0.7)")
    ls.add_argument(
        "--top-v",
        type=int,
        default=None,
        help="bigram mode: collapse tokens outside the top-V to one OOV symbol "
        "(bounds the count tables at V+1 rows; the CCNet truncation)",
    )
    sp = sub.add_parser(
        "split",
        help="materialize a leakage-safe train/val/test split: split = hash(group column), "
        "written as split=... parquet partitions",
    )
    sp.add_argument("--input", required=True, help="documents parquet path")
    sp.add_argument("--target", required=True, help="output parquet path (partitioned by split)")
    sp.add_argument("--group-col", default="source", help="group key the split hashes (default: source)")
    sp.add_argument("--seed", type=int, default=int(os.environ.get("RNG_SEED", DEFAULT_SEED)))
    dr = sub.add_parser(
        "drift",
        help="KL(corpus ‖ reference) unigram drift report between two documents tables",
    )
    dr.add_argument("--input", required=True, help="corpus parquet path to score")
    dr.add_argument("--reference", required=True, help="frozen baseline documents parquet path")
    dr.add_argument("--text-col", default="text")
    dr.add_argument(
        "--reference-top-k",
        type=int,
        default=None,
        help="cap the frozen reference to its top-K terms (vocab-bounded state, "
        "as the streaming monitor and the drift_vs_reference entry use); "
        "default keeps the reference's full vocabulary",
    )
    md = sub.add_parser(
        "media-dedup",
        help="perceptual-hash near-duplicate pairs over a binary media column (banded hamming search)",
    )
    md.add_argument("--source", required=True, help="input parquet path with a binary media column")
    md.add_argument("--target", required=True, help="output parquet path for (id_a, id_b, hamming) pairs")
    md.add_argument("--id-col", required=True)
    md.add_argument("--binary-col", default="media")
    md.add_argument("--max-hamming", type=int, default=2)
    md.add_argument(
        "--against",
        default=None,
        help="optional corpus-index parquet (id + fingerprint); flags the source batch "
        "against it (incremental mode) instead of pairing the source with itself. "
        "Read with the explicit schema '<id-col> long, phash long' (like the "
        "streaming appender writes): the id column must be a 64-bit integer",
    )
    mc = sub.add_parser(
        "media-index-compact",
        help="merge a streaming media-index's accumulated batch partitions into one",
    )
    mc.add_argument("--path", required=True, help="index directory (as written by the streaming appender)")
    ai = sub.add_parser(
        "ann-index",
        help="build a persisted IVF index over an embedding table (centroids + cid-partitioned lists)",
    )
    ai.add_argument("--source", required=True, help="input parquet with an embedding column")
    ai.add_argument("--target", required=True, help="index output directory")
    ai.add_argument("--id-col", default="vec_id")
    ai.add_argument("--vec-col", default="embedding")
    ai.add_argument("--n-clusters", type=int, default=16)
    ai.add_argument("--iters", type=int, default=1)
    ai.add_argument(
        "--pq-subspaces",
        type=int,
        default=0,
        help="train a product-quantized index with this many subspaces "
        "(0 = float IVF lists); codes are partitioned by the coarse IVF list id",
    )
    ai.add_argument("--pq-codes", type=int, default=16, help="codewords per PQ subspace")
    ai.add_argument("--dim", type=int, default=64, help="embedding dimensionality (PQ mode)")
    ai.add_argument(
        "--residual",
        action="store_true",
        help="PQ mode only: quantize IVF residuals (v - coarse centroid) instead of raw "
        "vectors — better recall at the same code budget; queries and the streaming "
        "appender detect the mode from the index metadata",
    )
    aq = sub.add_parser(
        "ann-query",
        help="query a persisted IVF index (probe lists via partition pruning, exact re-rank)",
    )
    aq.add_argument("--index", required=True, help="index directory (as written by ann-index)")
    aq.add_argument("--queries", required=True, help="parquet of query vectors")
    aq.add_argument("--target", required=True, help="output parquet for (query_id, neighbor_id, sim, rank)")
    aq.add_argument("--id-col", default="vec_id")
    aq.add_argument("--vec-col", default="embedding")
    aq.add_argument("--k", type=int, default=5)
    aq.add_argument("--nprobe", type=int, default=2)
    aq.add_argument(
        "--delta",
        default=None,
        help="streaming-appender delta dir to union into the search "
        "(PQ indexes only; see streaming/ann_stream.py)",
    )
    aq.add_argument(
        "--rerank",
        default=None,
        metavar="VECTORS",
        help="raw-vector parquet to exact-rerank against (PQ indexes only): "
        "take a --shortlist-k ADC shortlist from the codes, re-score only "
        "those rows with the exact cosine, keep --k — quantization decides "
        "what is LOOKED AT, never the final ordering",
    )
    aq.add_argument(
        "--shortlist-k",
        type=int,
        default=16,
        help="ADC shortlist size per query when --rerank is given (default 16)",
    )
    bt = sub.add_parser(
        "bpe-train",
        help="learn a BPE merge list over a document corpus (one token-stream shuffle, "
        "then |vocab|-table iterations); writes merges.json + the trained symbol vocab",
    )
    bt.add_argument("--source", required=True, help="input parquet with a text column")
    bt.add_argument("--text-col", default="text")
    bt.add_argument("--merges", type=int, default=32, help="merge rounds to learn")
    bt.add_argument("--target", required=True, help="output dir (merges.json + vocab/)")
    tk = sub.add_parser(
        "tokenize",
        help="segment text with a learned BPE merge list (one generated projection); "
        "optionally assign concat-and-chunk packing offsets at a token budget",
    )
    tk.add_argument("--source", required=True, help="input parquet with a text column")
    tk.add_argument("--merges", required=True, help="merges.json written by bpe-train")
    tk.add_argument("--text-col", default="text")
    tk.add_argument("--id-col", default="doc_id")
    tk.add_argument("--target", required=True, help="output parquet")
    tk.add_argument(
        "--pack-budget",
        type=int,
        default=0,
        help="when > 0, add (start_offset, seq_id) for concat-and-chunk packing at this budget",
    )
    hs = sub.add_parser(
        "hybrid-search",
        help="fused lexical+dense retrieval per anchor id (reciprocal rank fusion; "
        "operators/retrieval.hybrid_rrf)",
    )
    hs.add_argument("--docs", required=True, help="documents parquet (id + text columns)")
    hs.add_argument("--embeddings", required=True, help="id-aligned embeddings parquet")
    hs.add_argument("--anchors", required=True, help="comma-separated anchor ids")
    hs.add_argument("--target", required=True, help="output parquet for the fused ranking")
    hs.add_argument("--id-col", default="doc_id")
    hs.add_argument("--text-col", default="text")
    hs.add_argument("--vec-id-col", default="vec_id")
    hs.add_argument("--vec-col", default="embedding")
    hs.add_argument("--pool", type=int, default=20, help="per-leg candidate pool depth")
    hs.add_argument("--k", type=int, default=10, help="fused results per anchor")
    am = sub.add_parser(
        "ann-delta-merge",
        help="fold a streaming delta's codes into the base PQ index and empty the delta "
        "(the replay cursor survives)",
    )
    am.add_argument("--index", required=True, help="base PQ index (as written by ann-index --pq-subspaces)")
    am.add_argument("--delta", required=True, help="delta dir (as written by the streaming appender)")
    am.add_argument("--id-col", default="vec_id")
    nv = sub.add_parser(
        "novelty",
        help="per-doc marginal novelty (fraction of word-3-gram shingles first owned by "
        "the doc); one-shot over a corpus, or incremental vs a persisted gram index",
    )
    nv.add_argument("--input", required=True, help="documents parquet path")
    nv.add_argument("--target", default=None, help="scores parquet path (one-shot mode; required without --index)")
    nv.add_argument("--id-col", default="doc_id")
    nv.add_argument("--text-col", default="text")
    nv.add_argument(
        "--index",
        default=None,
        help="gram-first-owner index dir (streaming/novelty layout): score the input as "
        "the next micro-batch against it and extend it; scores land under the index",
    )
    nv.add_argument("--seed", type=int, default=int(os.environ.get("RNG_SEED", DEFAULT_SEED)))
    ct = sub.add_parser(
        "containment-dedup",
        help="asymmetric doc-in-doc near-duplicate pairs (prefix-filtered set-containment "
        "join; catches quote-wrappers Jaccard/LSH structurally miss)",
    )
    ct.add_argument("--input", required=True, help="documents parquet path")
    ct.add_argument("--target", required=True, help="output parquet path for flagged pairs")
    ct.add_argument("--id-col", default="doc_id")
    ct.add_argument("--text-col", default="text")
    ct.add_argument("--max-posting", type=int, default=2048, help="cap per-gram posting lists (degenerate boilerplate grams)")
    ct.add_argument("--seed", type=int, default=int(os.environ.get("RNG_SEED", DEFAULT_SEED)))
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.command == "datadiff":
        from rustic_witcher_spark.operators.diff import diff_summary

        spark = get_spark(f"datadiff-{args.table}")
        src = read_table_files(spark, (f"{args.source}/{args.table}.parquet",))
        tgt = read_table_files(spark, (f"{args.target}/{args.table}.parquet",))
        rows = diff_summary(src, tgt, args.pk).collect()
        counts = {r["status"]: r["n"] for r in rows}
        print(json.dumps({"table": args.table, "diff": counts, "clean": not counts}))
        return 0 if not counts else 1
    if args.command == "validate":
        from rustic_witcher_spark.config.loader import load_validation_config
        from rustic_witcher_spark.validation import run_validations

        spark = get_spark("validate")
        for p in sorted(Path(args.data).iterdir()):
            if p.suffix == ".parquet":
                read_table_files(spark, (str(p),)).createOrReplaceTempView(p.stem)
        results = run_validations(spark, load_validation_config(args.validations))
        ok = all(r.passed for r in results)
        for r in results:
            print(json.dumps(r.__dict__))
        print(json.dumps({"validations": len(results), "passed": ok}))
        return 0 if ok else 1
    if args.command == "shard":
        from rustic_witcher_spark.sinks.shards import write_training_shards

        spark = get_spark("shard")
        df = read_table_files(spark, (args.source,))
        manifest = write_training_shards(df, args.id_col, args.n_shards, args.target, seed=args.seed)
        print(json.dumps(manifest, sort_keys=True))
        return 0
    if args.command == "shard-verify":
        from rustic_witcher_spark.sinks.shards import verify_training_shards

        spark = get_spark("shard-verify")
        problems = verify_training_shards(spark, args.path)
        print(json.dumps({"path": args.path, "ok": not problems, "problems": problems}))
        return 0 if not problems else 1
    if args.command == "ingest":
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from rustic_witcher_spark.sources.text_formats import CORRUPT_COL, TABLE_DDL, dead_letters, read_csv, read_jsonl

        ddl = args.schema_ddl or (TABLE_DDL.get(args.table) if args.table else None)
        if ddl is None:
            print(json.dumps({"error": f"no DDL: pass --schema-ddl or --table in {sorted(TABLE_DDL)}"}))
            return 2
        spark = get_spark("ingest")
        if args.format == "jsonl":
            q = read_jsonl(spark, args.input, ddl, quarantine=True)
        else:
            q = read_csv(spark, args.input, ddl, delimiter=args.csv_delimiter, quarantine=True)
        # the corrupt count rides the clean-write pass via Observation —
        # and because the write materializes EVERY column, the corrupt
        # flags are computed against the full schema (a pruned counting
        # scan misses later-field coercion failures; see corrupt_count)
        obs = Observation("ingest_bad")
        q = q.observe(obs, F.sum(F.col(CORRUPT_COL).isNotNull().cast("long")).alias("bad"))
        clean = q.filter(f"{CORRUPT_COL} IS NULL").drop(CORRUPT_COL)
        n = write_parquet(clean, args.target)
        bad = int(obs.get["bad"] or 0)
        report = {"rows": n, "quarantined": bad, "target": args.target}
        if args.quarantine_target:
            # dead-letter leg: raw offending lines + their partial parses,
            # for replay after an upstream fix. Written unconditionally
            # (overwrite) so a clean rerun CLEARS a previous run's dead
            # letters instead of leaving them to be replayed twice.
            write_parquet(dead_letters(q), args.quarantine_target)
            report["quarantine_target"] = args.quarantine_target
        print(json.dumps(report))
        return 0
    if args.command == "curate":
        from pyspark.sql import functions as F

        from rustic_witcher_spark.operators.dedup import exact_dedup
        from rustic_witcher_spark.operators.text import quality_score
        from rustic_witcher_spark.sinks.shards import write_training_shards
        from rustic_witcher_spark.sources.text_formats import CORRUPT_COL, TABLE_DDL, dead_letters, read_jsonl

        spark = get_spark("curate")
        if args.format == "jsonl":
            # Same quarantine routing as `ingest`: malformed lines parse to
            # all-NULL rows that would otherwise survive dedup (one NULL-text
            # digest group) and land in the shards as ghost documents.
            quarantined = read_jsonl(spark, args.input, TABLE_DDL["documents"], quarantine=True)
            if args.quarantine_target:
                write_parquet(dead_letters(quarantined), args.quarantine_target)
            docs = quarantined.filter(f"{CORRUPT_COL} IS NULL").drop(CORRUPT_COL)
        else:
            docs = read_table_files(spark, (args.input,))
        # Observation metrics ride the single shard-write job instead of
        # paying two extra full passes (a count() before dedup re-scans the
        # source; a count() after re-runs the dedup shuffle). The sink's
        # manifest stats scan only the written files, so the expensive
        # lineage executes exactly once end-to-end.
        from pyspark.sql import Observation

        obs_in, obs_dedup = Observation("curate_in"), Observation("curate_dedup")
        docs = docs.observe(obs_in, F.count(F.lit(1)).alias("n"))
        deduped = exact_dedup(docs, "text", "doc_id").observe(obs_dedup, F.count(F.lit(1)).alias("n"))
        kept = deduped.filter(quality_score(F.col("text")) >= args.min_quality)
        manifest = write_training_shards(kept, "doc_id", args.n_shards, args.target, seed=args.seed)
        n_in, n_dedup = obs_in.get["n"], obs_dedup.get["n"]
        print(
            json.dumps(
                {
                    "input_rows": n_in,
                    "after_dedup": n_dedup,
                    "after_quality": manifest["total_rows"],
                    "n_shards": args.n_shards,
                    "target": args.target,
                },
                sort_keys=True,
            )
        )
        return 0
    if args.command == "split":
        from pyspark.sql import functions as F

        from rustic_witcher_spark.operators.sampling import group_split

        spark = get_spark("split")
        docs = read_table_files(spark, (args.input,))
        labeled = docs.withColumn("split", group_split(F.col(args.group_col), seed=args.seed))
        write_parquet(labeled, args.target, partition_by=["split"])
        # counts from a read-back of the written partitions: validates the
        # write and keeps the labeling lineage single-pass (same pattern as
        # the shard sink's manifest stats). Explicit schema: a 0-row input
        # (fully-quarantined drop) writes only _SUCCESS, and schema
        # inference over that would raise instead of reporting {}.
        counts = {
            r["split"]: r["n"]
            for r in spark.read.schema(labeled.schema)
            .parquet(args.target)
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        print(json.dumps({"splits": counts, "group_col": args.group_col, "target": args.target}, sort_keys=True))
        return 0
    if args.command == "lm-score":
        if args.top_v is not None and not args.bigram:
            raise SystemExit("--top-v only applies to the bigram model; add --bigram")
        from pyspark.sql import functions as F

        from rustic_witcher_spark.operators.lm import (
            bigram_logprob_score,
            bigram_logprob_score_topv,
            unigram_logprob_score,
        )

        spark = get_spark("lm-score")
        docs = read_table_files(spark, (args.input,))
        uni = unigram_logprob_score(docs, args.text_col, args.id_col).select(
            args.id_col, "n_tokens", F.col("nll").alias("unigram_nll")
        )
        out = uni
        if args.bigram:
            if args.top_v is not None:
                bi = bigram_logprob_score_topv(
                    docs, args.text_col, args.id_col, top_v=args.top_v, lam=args.lam
                )
            else:
                bi = bigram_logprob_score(docs, args.text_col, args.id_col, lam=args.lam)
            # left join: sub-bigram docs keep their unigram score with
            # a NULL bigram column instead of dropping from the report
            out = uni.join(
                bi.select(args.id_col, "n_bigrams", F.col("nll").alias("bigram_nll")),
                args.id_col,
                "left",
            )
        docs_scored = write_parquet(out, args.target)
        print(
            json.dumps(
                {
                    "target": args.target,
                    "docs_scored": docs_scored,
                    "bigram": bool(args.bigram),
                    "top_v": args.top_v,
                },
                sort_keys=True,
            )
        )
        return 0
    if args.command == "drift":
        from pyspark.sql import functions as F

        from rustic_witcher_spark.streaming.drift import kl_vs_reference, term_counts

        spark = get_spark("drift")
        corpus = read_table_files(spark, (args.input,))
        ref = read_table_files(spark, (args.reference,))
        ref_counts = term_counts(ref, args.text_col)
        if args.reference_top_k is not None:
            # deterministic top-K: ties to the lexicographically smallest
            # term, same rule as the drift_vs_reference registry entry
            ref_counts = ref_counts.orderBy(F.desc("n"), F.asc("term")).limit(args.reference_top_k)
        r = kl_vs_reference(
            term_counts(corpus, args.text_col), ref_counts
        ).collect()[0]
        print(
            json.dumps(
                {
                    "kl_nanonats": r["kl_nanonats"],
                    "matched_tokens": r["matched_tokens"],
                    "oov_tokens": r["oov_tokens"],
                    "oov_terms": r["oov_terms"],
                    "input": args.input,
                    "reference": args.reference,
                },
                sort_keys=True,
            )
        )
        return 0
    if args.command == "media-dedup":
        from pyspark.sql import functions as F

        from rustic_witcher_spark.operators.dedup import hamming_near_duplicates, incremental_hamming_flags
        from rustic_witcher_spark.operators.multimodal import attach_perceptual_hash

        spark = get_spark("media-dedup")
        src = read_table_files(spark, (args.source,))
        hashed = attach_perceptual_hash(src, args.binary_col).select(args.id_col, "phash")
        if args.against:
            # incremental mode: batch vs persisted fingerprint index,
            # never corpus-vs-corpus (see incremental_hamming_flags).
            # Explicit schema: a freshly initialized streaming index dir
            # holds only _SUCCESS, and inference would raise (the same
            # empty-parquet class as the read-back below).
            index = (
                spark.read.schema(f"{args.id_col} long, phash long")
                .parquet(args.against)
                .select(args.id_col, "phash")
            )
            both = hashed.withColumn("__new", F.lit(True)).unionByName(
                index.withColumn("__new", F.lit(False))
            )
            # materialize_keyed: the batch side's dHash kernel feeds
            # three plan subtrees; cut it once (the index side is a
            # plain parquet scan either way)
            out = incremental_hamming_flags(
                both, args.id_col, "phash", F.col("__new"), args.max_hamming,
                materialize_keyed=True,
            )
            write_parquet(out, args.target)
            # explicit schema on read-back: a 0-row batch writes only
            # _SUCCESS, and schema inference would raise (shards.py lesson)
            flagged = spark.read.schema(out.schema).parquet(args.target)
            stats = flagged.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(F.col("exact_dup").cast("long")), F.lit(0)).alias("e"),
                F.coalesce(F.sum(F.col("near_dup").cast("long")), F.lit(0)).alias("d"),
            ).collect()[0]
            summary = {
                "mode": "incremental",
                "batch_rows": stats["n"],
                "exact_dups": stats["e"],
                "near_dups": stats["d"],
                "target": args.target,
            }
        else:
            pairs = hamming_near_duplicates(hashed, args.id_col, "phash", args.max_hamming)
            summary = {
                "mode": "pairs",
                "pairs": write_parquet(pairs, args.target),
                "max_hamming": args.max_hamming,
                "target": args.target,
            }
        print(json.dumps(summary, sort_keys=True))
        return 0
    if args.command == "media-index-compact":
        from rustic_witcher_spark.streaming.media_dedup import compact_media_index

        spark = get_spark("media-index-compact")
        meta = compact_media_index(spark, args.path)
        print(json.dumps({"path": args.path, **meta}, sort_keys=True))
        return 0
    if args.command == "ann-index":
        if args.residual and args.pq_subspaces <= 0:
            print("--residual requires --pq-subspaces > 0 (float IVF lists store raw vectors)", file=sys.stderr)
            return 2
        spark = get_spark("ann-index")
        src = read_table_files(spark, (args.source,))
        if args.pq_subspaces > 0:
            from rustic_witcher_spark.operators.pq import pq_write_index

            pq_write_index(
                src, args.target, n_subspaces=args.pq_subspaces, n_codes=args.pq_codes,
                dim=args.dim, coarse_clusters=args.n_clusters, iters=args.iters,
                id_col=args.id_col, vec_col=args.vec_col, residual=args.residual,
            )
            # explicit (pruned) schema: an empty corpus writes only
            # _SUCCESS and schema inference would raise instead of 0
            indexed = (
                spark.read.schema(f"{args.id_col} long")
                .parquet(f"{args.target}/codes")
                .count()
            )
        else:
            from rustic_witcher_spark.operators.similarity import ivf_write_index

            ivf_write_index(
                src, args.target, n_clusters=args.n_clusters, iters=args.iters,
                id_col=args.id_col, vec_col=args.vec_col,
            )
            indexed = (
                spark.read.schema(f"{args.id_col} long")
                .parquet(f"{args.target}/lists")
                .count()
            )
        print(
            json.dumps(
                {
                    "target": args.target,
                    "indexed_vectors": indexed,
                    "n_clusters": args.n_clusters,
                    "pq_subspaces": args.pq_subspaces,
                },
                sort_keys=True,
            )
        )
        return 0
    if args.command == "tokenize":
        from pyspark.sql import functions as F

        from rustic_witcher_spark.operators.bpe import bpe_apply
        from rustic_witcher_spark.operators.packing import pack_sequences

        spark = get_spark("tokenize")
        with open(args.merges) as fh:
            merges = json.load(fh)
        src = read_table_files(spark, (args.source,))
        out = bpe_apply(src, args.text_col, merges).withColumn(
            "n_tokens", F.size("bpe_tokens").cast("long")
        )
        if args.pack_budget > 0:
            out = pack_sequences(out, args.id_col, "n_tokens", args.pack_budget)
        write_parquet(out, args.target)
        result = spark.read.schema(out.schema).parquet(args.target)
        agg = result.agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("tokens"),
            *(
                [F.coalesce(F.countDistinct("seq_id"), F.lit(0)).alias("sequences")]
                if args.pack_budget > 0
                else []
            ),
        ).collect()[0]
        rep = {
            "target": args.target,
            "rows": agg["rows"],
            "tokens": agg["tokens"],
            "merges_applied": len(merges),
        }
        if args.pack_budget > 0:
            rep["sequences"] = agg["sequences"]
            rep["pack_budget"] = args.pack_budget
        print(json.dumps(rep, sort_keys=True))
        return 0
    if args.command == "bpe-train":
        from rustic_witcher_spark.operators.bpe import bpe_train

        spark = get_spark("bpe-train")
        src = read_table_files(spark, (args.source,))
        merges, sym = bpe_train(src, args.text_col, n_merges=args.merges)
        os.makedirs(args.target, exist_ok=True)
        with open(os.path.join(args.target, "merges.json"), "w") as fh:
            json.dump(merges, fh)
        vocab_rows = write_parquet(sym, os.path.join(args.target, "vocab"))
        print(
            json.dumps(
                {
                    "target": args.target,
                    "merges_learned": len(merges),
                    "merges_requested": args.merges,
                    "vocab_rows": vocab_rows,
                },
                sort_keys=True,
            )
        )
        return 0
    if args.command == "ann-delta-merge":
        from rustic_witcher_spark.streaming.ann_stream import merge_ann_delta

        spark = get_spark("ann-delta-merge")
        rep = merge_ann_delta(spark, args.index, args.delta, id_col=args.id_col)
        print(json.dumps({"index": args.index, "delta": args.delta, **rep}, sort_keys=True))
        return 0
    if args.command == "ann-query":
        if args.rerank and args.k > args.shortlist_k:
            raise SystemExit(
                f"--k ({args.k}) cannot exceed --shortlist-k ({args.shortlist_k}): "
                "the re-rank stage only re-scores the shortlist"
            )
        spark = get_spark("ann-query")
        q = read_table_files(spark, (args.queries,))
        if os.path.isdir(os.path.join(args.index, "_codebooks")):
            if args.delta:
                if args.rerank:
                    raise SystemExit("--rerank cannot be combined with --delta")
                from rustic_witcher_spark.streaming.ann_stream import query_with_delta

                out = query_with_delta(
                    spark, args.index, args.delta, q, k=args.k, nprobe=args.nprobe,
                    id_col=args.id_col, vec_col=args.vec_col,
                )
            elif args.rerank:
                from rustic_witcher_spark.operators.pq import pq_query_index_rerank

                out = pq_query_index_rerank(
                    spark, args.index, q, read_table_files(spark, (args.rerank,)),
                    k=args.k, shortlist_k=args.shortlist_k, nprobe=args.nprobe,
                    id_col=args.id_col, vec_col=args.vec_col,
                )
            else:
                from rustic_witcher_spark.operators.pq import pq_query_index

                out = pq_query_index(
                    spark, args.index, q, k=args.k, nprobe=args.nprobe,
                    id_col=args.id_col, vec_col=args.vec_col,
                )
        else:
            if args.delta:
                raise SystemExit("--delta requires a PQ index (codebooks not found)")
            if args.rerank:
                raise SystemExit("--rerank requires a PQ index (the flat IVF path is already exact)")
            from rustic_witcher_spark.operators.similarity import ivf_query_index

            out = ivf_query_index(
                spark, args.index, q, k=args.k, nprobe=args.nprobe,
                id_col=args.id_col, vec_col=args.vec_col,
            )
        result_rows = write_parquet(out, args.target)
        result = spark.read.schema(out.schema).parquet(args.target)
        print(
            json.dumps(
                {
                    "target": args.target,
                    "result_rows": result_rows,
                    "queries": result.select("query_id").distinct().count(),
                    "k": args.k,
                    "nprobe": args.nprobe,
                },
                sort_keys=True,
            )
        )
        return 0
    if args.command == "novelty":
        from rustic_witcher_spark.operators.dedup import novelty_scores

        spark = get_spark("novelty")
        docs = read_table_files(spark, (args.input,))
        if args.index:
            from rustic_witcher_spark.streaming.novelty import META_NAME, novelty_append_batch
            from rustic_witcher_spark.streaming.replay_meta import load_meta

            batch_id = load_meta(args.index, META_NAME).get("last_batch_id", -1) + 1
            ran = novelty_append_batch(
                docs, batch_id, args.index, text_col=args.text_col, id_col=args.id_col, seed=args.seed
            )
            n = load_meta(args.index, META_NAME)["last_scored_docs"]
            print(json.dumps({"mode": "incremental", "index": args.index, "batch": batch_id,
                              "ran": ran, "scored_docs": n}, sort_keys=True))
            return 0
        if not args.target:
            print(json.dumps({"error": "one-shot mode requires --target"}))
            return 2
        out = novelty_scores(docs, args.text_col, args.id_col, seed=args.seed)
        scored = write_parquet(out, args.target)
        print(json.dumps({"mode": "one-shot", "target": args.target, "scored_docs": scored}, sort_keys=True))
        return 0
    if args.command == "containment-dedup":
        from rustic_witcher_spark.operators.dedup import containment_near_duplicates

        spark = get_spark("containment-dedup")
        out = containment_near_duplicates(
            read_table_files(spark, (args.input,)),
            args.text_col,
            args.id_col,
            seed=args.seed,
            max_posting=args.max_posting,
        )
        pairs = write_parquet(out, args.target)
        print(json.dumps({"target": args.target, "flagged_pairs": pairs,
                          "max_posting": args.max_posting}, sort_keys=True))
        return 0
    if args.command == "hybrid-search":
        from rustic_witcher_spark.operators.retrieval import hybrid_rrf

        spark = get_spark("hybrid-search")
        anchor_ids = [int(a) for a in args.anchors.split(",") if a.strip()]
        out = hybrid_rrf(
            read_table_files(spark, (args.docs,)),
            read_table_files(spark, (args.embeddings,)),
            anchor_ids=anchor_ids,
            id_col=args.id_col,
            text_col=args.text_col,
            vec_id_col=args.vec_id_col,
            vec_col=args.vec_col,
            pool=args.pool,
            topk=args.k,
        )
        result_rows = write_parquet(out, args.target)
        print(
            json.dumps(
                {
                    "target": args.target,
                    "result_rows": result_rows,
                    "anchors": len(anchor_ids),
                    "pool": args.pool,
                    "k": args.k,
                },
                sort_keys=True,
            )
        )
        return 0
    if args.command != "anonymize":  # pragma: no cover
        return 2
    included = args.included_tables
    if args.included_tables_from_file:
        included = (included or []) + included_tables_from_file(args.included_tables_from_file)
    config = load_config(args.config_dir, args.database, args.schema)
    spark = get_spark(f"anonymize-{args.database}-{args.schema}")
    report = snapshot(
        spark,
        args.source,
        args.target,
        config,
        included_tables=included,
        excluded_tables=args.excluded_tables,
        mode=_MODES[args.mode],
        start_date=args.start_date,
        stop_date=args.stop_date,
        num_buffers=args.num_buffers,
        seed=args.seed,
    )
    for r in report.results:
        print(json.dumps(r.__dict__))
    return 0 if report.ok else 1


if __name__ == "__main__":
    sys.exit(main())
