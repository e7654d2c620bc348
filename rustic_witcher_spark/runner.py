"""Snapshot runner — the engine's equivalent of the reference's
``snapshot`` orchestration (ref: rustic-cdc-operator/src/cdc_operator.rs:104-360).

Per table: discover files (mode-dependent) → prune (record reduction) →
read → schema-drift check → anonymization pipeline → sink (parquet /
callable). Tables with no config entry are passed through untouched —
copied byte-identically without a Spark read when the source is a plain
file (the reference's S3 server-side copy, S7).

Concurrency: tables run through a bounded thread pool sharing ONE
SparkSession (Spark schedules their jobs concurrently), mirroring the
reference's ``buffer_unordered(NUM_OF_BUFFERS)`` fan-out
(ref: cdc_operator.rs:348-357,405-412). On a 1000-executor cluster the
pool bounds concurrent *job submissions*; executor slots do the real
scheduling.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import date
from pathlib import Path

from pyspark.sql import SparkSession

from rustic_witcher_spark.config.model import AnonymizationConfig, TableConfig
from rustic_witcher_spark.functions.wordlists import DEFAULT_SEED
from rustic_witcher_spark.operators.cdc import apply_cdc, read_cdc_files
from rustic_witcher_spark.operators.transforms import check_schema_drift
from rustic_witcher_spark.plans.pipeline import anonymize_table
from rustic_witcher_spark.sinks.parquet import write_parquet
from rustic_witcher_spark.sources.parquet import list_table_files, prune_load_files, read_table_files

# ref default NUM_OF_BUFFERS=80; local mode needs far less
DEFAULT_NUM_OF_BUFFERS = int(os.environ.get("NUM_OF_BUFFERS", "8"))


def anonymized_upload_dir() -> Path | None:
    """The UPLOAD_ANONYMIZED_FILES / ANONYMIZED_BUCKET gate
    (ref: anonymization_dataframe_operator.rs:450-460): when the flag is
    true, every anonymized table is ALSO copied to the anonymized
    bucket; the bucket env var is then required (the reference panics
    on its absence)."""
    if os.environ.get("UPLOAD_ANONYMIZED_FILES", "false").lower() != "true":
        return None
    bucket = os.environ.get("ANONYMIZED_BUCKET")
    if not bucket:
        raise RuntimeError("ANONYMIZED_BUCKET env var not set!")
    return Path(bucket)


@dataclass
class TableResult:
    table: str
    action: str  # "anonymized" | "copied" | "skipped" | "error"
    rows: int | None = None
    files_read: int = 0
    error: str | None = None


@dataclass
class SnapshotReport:
    results: list[TableResult] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return all(r.action != "error" for r in self.results)


def _table_dirs(source_dir: Path) -> dict[str, Path]:
    """A source layout is either one subdirectory per table (DMS-style)
    or flat ``<table>.parquet`` files (the driver's testdata layout)."""
    tables: dict[str, Path] = {}
    for p in sorted(source_dir.iterdir()):
        if p.is_dir():
            tables[p.name] = p
        elif p.suffix == ".parquet":
            tables[p.stem] = p
    return tables


def process_table(
    spark: SparkSession,
    table: str,
    path: Path,
    cfg: TableConfig | None,
    target_dir: Path,
    mode: str = "FullLoadOnly",
    start_date: date | None = None,
    stop_date: date | None = None,
    catalog_columns: list[str] | None = None,
    seed: int = DEFAULT_SEED,
    primary_key: list[str] | None = None,
) -> TableResult:
    out_path = target_dir / f"{table}.parquet"
    try:
        if cfg is None or (
            not cfg.column_transformations
            and cfg.filter.type == "NoFilter"
            and cfg.keep_num_of_records is None
            and not cfg.sanitize_null_bytes
            and not cfg.whole_table_transformation
        ):
            # passthrough: byte-identical copy, no scan+re-encode (S7)
            if path.is_file():
                shutil.copyfile(path, out_path)
                return TableResult(table, "copied", files_read=0)
            files = list_table_files(path, mode, start_date, stop_date)
            all_files = files.load_files + files.cdc_files
            out_path.mkdir(parents=True, exist_ok=True)
            for f in all_files:
                shutil.copyfile(f, out_path / Path(f).name)
            return TableResult(table, "copied", files_read=0)

        if path.is_file():
            files = (str(path),)
            df = read_table_files(spark, files, cfg.keep_num_of_records)
        else:
            listed = list_table_files(path, mode, start_date, stop_date)
            loads = prune_load_files(listed.load_files, cfg.keep_num_of_records)
            files = loads + listed.cdc_files
            if not files:
                raise ValueError(f"table {table!r}: no parquet files found for mode {mode}")
            # The record-reduction slice applies to the LOAD snapshot only
            # (ref: anonymization_dataframe_operator.rs:116-125); CDC rows
            # are merged in full afterwards. A CDC-only directory (table
            # created after the full load) has no base: the snapshot is
            # the CDC inserts alone.
            df = read_table_files(spark, loads, cfg.keep_num_of_records) if loads else None
            if listed.cdc_files:
                # DateAware: CDC files are per-PK upserts/deletes over the
                # LOAD snapshot, not extra rows (ref: cdc_operator.rs:308-328).
                df = apply_cdc(df, read_cdc_files(spark, listed.cdc_files), primary_key)
        if catalog_columns is not None:
            check_schema_drift(df.columns, catalog_columns)
        out = anonymize_table(df, cfg, seed, limit_already_applied=True)
        rows = write_parquet(out, str(out_path), target_files=1 if path.is_file() else None)
        upload_dir = anonymized_upload_dir()
        if upload_dir is not None:
            upload_dir.mkdir(parents=True, exist_ok=True)
            dest = upload_dir / out_path.name
            if out_path.is_dir():
                shutil.copytree(out_path, dest, dirs_exist_ok=True)
            else:
                shutil.copyfile(out_path, dest)
        return TableResult(table, "anonymized", rows=rows, files_read=len(files))
    except Exception as e:  # noqa: BLE001 - per-table isolation, reported upward
        return TableResult(table, "error", error=f"{type(e).__name__}: {e}")


def snapshot(
    spark: SparkSession,
    source_dir: str | Path,
    target_dir: str | Path,
    config: AnonymizationConfig,
    included_tables: list[str] | None = None,
    excluded_tables: list[str] | None = None,
    mode: str = "FullLoadOnly",
    start_date: date | None = None,
    stop_date: date | None = None,
    catalog: dict[str, list[str]] | None = None,
    num_buffers: int = DEFAULT_NUM_OF_BUFFERS,
    seed: int = DEFAULT_SEED,
    primary_keys: dict[str, list[str]] | None = None,
) -> SnapshotReport:
    """Process every table in ``source_dir`` concurrently."""
    source_dir, target_dir = Path(source_dir), Path(target_dir)
    target_dir.mkdir(parents=True, exist_ok=True)
    tables = _table_dirs(source_dir)
    if included_tables:
        tables = {t: p for t, p in tables.items() if t in set(included_tables)}
    if excluded_tables:
        tables = {t: p for t, p in tables.items() if t not in set(excluded_tables)}

    report = SnapshotReport()
    with ThreadPoolExecutor(max_workers=max(1, num_buffers)) as pool:
        futures = {
            pool.submit(
                process_table,
                spark,
                t,
                p,
                config.table(t),
                target_dir,
                mode,
                start_date,
                stop_date,
                (catalog or {}).get(t),
                seed,
                (primary_keys or {}).get(t),
            ): t
            for t, p in tables.items()
        }
        for fut in futures:
            report.results.append(fut.result())
    report.results.sort(key=lambda r: r.table)
    return report
