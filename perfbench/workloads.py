"""The three workloads: how each one generates its inputs, runs one pass
through the engine's public entry points, checks its output, and breaks a
pass into per-layer prefix stages for the traced run.

A pass is one complete unit of user work: a ``runner.snapshot`` call, or
the curation chain from the raw corpus to written training shards.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import date
from pathlib import Path

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from rustic_witcher_spark.config.model import AnonymizationConfig
from rustic_witcher_spark.operators.cdc import apply_cdc
from rustic_witcher_spark.operators.cluster import connected_components
from rustic_witcher_spark.operators.dedup import exact_dedup, minhash_lsh_candidates, verify_candidates_jaccard
from rustic_witcher_spark.operators.text import quality_score
from rustic_witcher_spark.plans.pipeline import anonymize_table
from rustic_witcher_spark.runner import snapshot
from rustic_witcher_spark.sinks.parquet import write_parquet
from rustic_witcher_spark.sinks.shards import write_training_shards
from rustic_witcher_spark.sources.parquet import cast_ntz_timestamps, list_table_files, read_table_files

import checks
import gen
from probes import Tracer

# Runner thread-pool size: at most the local core count, so that both
# commits of a comparison schedule the same way.
NUM_BUFFERS = 4


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _out_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file() and not p.name.startswith((".", "_")))


def _out_files(path: Path) -> int:
    return sum(1 for p in path.rglob("*.parquet") if p.is_file()) + (1 if path.is_file() else 0)


class Snapshot:
    """``runner.snapshot`` over a generated DMS export."""

    def __init__(self, inp: gen.SnapshotInput):
        self.inp = inp
        self.config = AnonymizationConfig.from_dict(inp.config)
        self.start_date = date.fromisoformat(inp.start_date) if inp.start_date else None
        self.tables = {p.stem if p.is_file() else p.name: p for p in sorted(inp.source.iterdir())}

    @property
    def input_rows(self) -> int:
        return self.inp.input_rows

    @property
    def input_bytes(self) -> int:
        return self.inp.input_bytes

    def run(self, spark, out: Path) -> tuple[int, list[str]]:
        """One pass; returns (operations attempted, one message per failed
        operation). An operation is one table."""
        report = snapshot(
            spark,
            self.inp.source,
            out,
            self.config,
            mode=self.inp.mode,
            start_date=self.start_date,
            num_buffers=NUM_BUFFERS,
            primary_keys=self.inp.primary_keys,
        )
        errs = []
        for r in report.results:
            want = self.inp.tables[r.table]
            if r.action == "error":
                errs.append(f"{r.table}: {r.error}")
            elif r.action != ("anonymized" if want.anonymized else "copied"):
                errs.append(f"{r.table}: action {r.action}")
            elif want.anonymized and r.rows != want.rows:
                errs.append(f"{r.table}: report says {r.rows} rows, expected {want.rows}")
        missing = set(self.inp.tables) - {r.table for r in report.results}
        errs += [f"{t}: no table result" for t in sorted(missing)]
        return len(self.inp.tables), errs

    def check(self, out: Path) -> tuple[int, list[str]]:
        per_table = checks.check_snapshot(self.inp, out)
        return len(per_table), ["; ".join(errs) for errs in per_table.values() if errs]

    def written_bytes(self, out: Path) -> int:
        return _out_bytes(out)

    # ------------------------------------------------------------ traced

    def anonymized(self) -> dict[str, Path]:
        return {t: p for t, p in self.tables.items() if self.config.table(t) is not None}

    def _stage(self, tracer: Tracer, layer: str, fn) -> float:
        """Run ``fn(table, path)`` for every anonymized table on the
        runner's pool size, as one span; returns its wall seconds."""
        tables = self.anonymized()

        def one(item):
            tracer.tag_thread(layer, item[0])
            return fn(*item)

        with tracer.span(layer, layer) as s, ThreadPoolExecutor(NUM_BUFFERS) as pool:
            for f in [pool.submit(one, it) for it in tables.items()]:
                f.result()
        return s.seconds

    def _read(self, spark, table: str, path: Path) -> tuple[DataFrame, DataFrame | None]:
        if path.is_file():
            return read_table_files(spark, (str(path),)), None
        files = list_table_files(path, self.inp.mode, self.start_date)
        base = read_table_files(spark, files.load_files)
        cdc = cast_ntz_timestamps(spark.read.parquet(*files.cdc_files)) if files.cdc_files else None
        return base, cdc

    def _merged(self, spark, table: str, path: Path, obs: dict | None = None) -> DataFrame:
        base, cdc = self._read(spark, table, path)
        if cdc is None:
            return base
        if obs is not None:
            obs["in"] = [Observation(), Observation()]
            base = base.observe(obs["in"][0], F.count(F.lit(1)).alias("n"))
            cdc = cdc.observe(obs["in"][1], F.count(F.lit(1)).alias("n"))
        merged = apply_cdc(base, cdc, self.inp.primary_keys[table])
        if obs is not None:
            obs["out"] = Observation()
            merged = merged.observe(obs["out"], F.count(F.lit(1)).alias("n"))
        return merged

    def traced_pass(self, spark, tracer: Tracer, out: Path) -> None:
        with tracer.span("pass", "runner"):
            self.run(spark, out)

    def traced_stages(self, spark, tracer: Tracer, out: Path) -> tuple[dict[str, float], dict]:
        """Cumulative prefixes of the runner's per-table chain, each stage
        on every anonymized table concurrently; returns the self seconds
        per layer (a stage's wall minus the previous stage's) and counts."""
        counts: dict[str, float] = {}
        lock = threading.Lock()  # the stage functions run on pool threads

        def listing(table, path):
            if path.is_file():
                files = [str(path)]
            else:
                listed = list_table_files(path, self.inp.mode, self.start_date)
                files = listed.load_files + listed.cdc_files
            with lock:
                counts["files"] = counts.get("files", 0) + len(files)
                counts["scan_bytes"] = counts.get("scan_bytes", 0) + sum(Path(f).stat().st_size for f in files)

        def scan(table, path):
            base, cdc = self._read(spark, table, path)
            _noop(base)
            if cdc is not None:
                _noop(cdc)

        cdc_obs: dict = {}

        def cdc_stage(table, path):
            obs = cdc_obs if table in self.inp.primary_keys else None
            _noop(self._merged(spark, table, path, obs))

        plan_s: list[float] = []  # list.append is atomic under the GIL

        def pipeline(table, path):
            df = self._merged(spark, table, path)
            t0 = time.perf_counter()
            anon = anonymize_table(df, self.config.table(table), limit_already_applied=True)
            plan_s.append(time.perf_counter() - t0)
            _noop(anon)

        def sink(table, path):
            anon = anonymize_table(self._merged(spark, table, path), self.config.table(table), limit_already_applied=True)
            write_parquet(anon, str(out / f"{table}.parquet"), target_files=1 if path.is_file() else None)

        walls = {}
        walls["list"] = self._stage(tracer, "sources.parquet.list", listing)
        walls["scan"] = self._stage(tracer, "sources.parquet", scan)
        walls["cdc"] = self._stage(tracer, "operators.cdc", cdc_stage)
        walls["pipeline"] = self._stage(tracer, "plans.pipeline", pipeline)
        walls["sink"] = self._stage(tracer, "sinks.parquet", sink)
        counts["plan_s"] = sum(plan_s)
        if cdc_obs:
            counts["cdc_rows_in"] = sum(o.get["n"] for o in cdc_obs["in"])
            counts["cdc_rows_out"] = cdc_obs["out"].get["n"]
        counts["sink_files"] = _out_files(out)
        return {
            "sources.parquet.list": walls["list"],
            "sources.parquet": walls["scan"],
            "operators.cdc": walls["cdc"] - walls["scan"],
            "plans.pipeline": walls["pipeline"] - walls["cdc"],
            "sinks.parquet": walls["sink"] - walls["pipeline"],
        }, counts


class Curation:
    """The near-dup curation chain over a generated corpus:
    exact dedup -> MinHash LSH candidates -> Jaccard verify -> connected
    components -> keep each cluster's min id -> quality filter -> shards."""

    def __init__(self, inp: gen.CorpusInput):
        self.inp = inp
        self.manifest: dict = {}

    @property
    def input_rows(self) -> int:
        return self.inp.input_rows

    @property
    def input_bytes(self) -> int:
        return self.inp.input_bytes

    def _frames(self, spark):
        docs = read_table_files(spark, (str(self.inp.path),))
        deduped = exact_dedup(docs, "text", "doc_id")
        cands = minhash_lsh_candidates(deduped, "text", "doc_id")
        pairs = verify_candidates_jaccard(cands, deduped, "text", "doc_id", threshold=0.8)
        return docs, deduped, cands, pairs

    @staticmethod
    def _keep(deduped: DataFrame, comps: DataFrame) -> DataFrame:
        reps = comps.filter(F.col("node") == F.col("component")).select(F.col("node").alias("doc_id"))
        return deduped.join(reps, "doc_id", "left_semi")

    @staticmethod
    def _quality(reps: DataFrame) -> DataFrame:
        return reps.filter(quality_score(F.col("text")) >= gen.MIN_QUALITY)

    def run(self, spark, out: Path) -> tuple[int, list[str]]:
        _, deduped, _, pairs = self._frames(spark)
        comps = connected_components(deduped.select("doc_id"), pairs, "doc_id")
        self.manifest = write_training_shards(self._quality(self._keep(deduped, comps)), "doc_id", gen.SHARDS, str(out / "shards"))
        errs = []
        if self.manifest.get("total_rows") != len(self.inp.survivors):
            errs.append(f"corpus: manifest total_rows {self.manifest.get('total_rows')} != {len(self.inp.survivors)}")
        return 1, errs

    def check(self, out: Path) -> tuple[int, list[str]]:
        errs = checks.check_corpus(self.inp, out / "shards", self.manifest)
        return 1, ["; ".join(errs)] if errs else []

    def written_bytes(self, out: Path) -> int:
        return _out_bytes(out / "shards")

    # ------------------------------------------------------------ traced

    def traced_pass(self, spark, tracer: Tracer, out: Path) -> None:
        with tracer.span("pass", "pass"):
            with tracer.span("dedup", "operators.dedup"):
                _, deduped, _, pairs = self._frames(spark)
            with tracer.span("cluster", "operators.cluster"):
                comps = connected_components(deduped.select("doc_id"), pairs, "doc_id")
            with tracer.span("text", "operators.text"):
                kept = self._quality(self._keep(deduped, comps))
            with tracer.span("shards", "sinks.shards"):
                write_training_shards(kept, "doc_id", gen.SHARDS, str(out / "shards"))

    def traced_stages(self, spark, tracer: Tracer, out: Path) -> tuple[dict[str, float], dict]:
        """Cumulative prefixes of the chain; lazy steps run to the noop
        sink, eager steps (clustering, shard write) run as they are."""
        docs, deduped, cands, pairs = self._frames(spark)
        wall = {}

        def timed(key, layer, fn):
            with tracer.span(key, layer) as s:
                result = fn()
            wall[key] = s.seconds
            return result

        timed("scan", "sources.parquet", lambda: _noop(docs))
        timed("exact", "operators.dedup", lambda: _noop(deduped))
        obs_c, obs_v = Observation(), Observation()
        timed("minhash", "operators.dedup", lambda: _noop(cands.observe(obs_c, F.count(F.lit(1)).alias("n"))))
        timed("verify", "operators.dedup", lambda: _noop(pairs.observe(obs_v, F.count(F.lit(1)).alias("n"))))
        comps = timed("cluster", "operators.cluster", lambda: connected_components(deduped.select("doc_id"), pairs, "doc_id"))
        reps = self._keep(deduped, comps)
        timed("keep", "operators.cluster", lambda: _noop(reps))
        timed("text", "operators.text", lambda: _noop(self._quality(reps)))
        timed("shards", "sinks.shards", lambda: write_training_shards(self._quality(reps), "doc_id", gen.SHARDS, str(out / "shards")))
        counts = {"candidates": obs_c.get["n"], "verified": obs_v.get["n"], "scan_bytes": self.inp.input_bytes}
        return {
            "sources.parquet": wall["scan"],
            "operators.dedup.exact": wall["exact"] - wall["scan"],
            "operators.dedup.minhash": wall["minhash"] - wall["exact"],
            "operators.dedup.verify": wall["verify"] - wall["minhash"],
            "operators.cluster": wall["cluster"] - wall["verify"] + wall["keep"] - wall["exact"],
            "operators.text": wall["text"] - wall["keep"],
            "sinks.shards": wall["shards"] - wall["text"],
        }, counts
