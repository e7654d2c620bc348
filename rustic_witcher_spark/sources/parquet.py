"""Parquet sources with AWS-DMS file-class semantics (S1–S4, SURVEY §2.1).

A DMS-exported table is a set of Parquet files: LOAD files (full-load
snapshot chunks; the first is ``LOAD00000001``) are inserted, CDC files
(timestamped incremental changes) are upserted
(ref: rustic-cdc-operator/src/cdc_operator.rs:210-219,253-328;
anonymization_dataframe_operator.rs:50-134).

Per-file semantics the engine must keep OUT of the naive multi-file scan
(SURVEY §7.3):
- ``keep_num_of_records`` slices only the FIRST LOAD file (ref :116-125)
- when record-reduction is active, every other LOAD file is skipped
  without being read at all (ref :60-82) — driver-side file pruning that
  Catalyst can't do for us.

At scale, LOAD files of one table read as ONE multi-file scan (automatic
union, partition per row-group span); the limit-slice case reads one file.
"""

from __future__ import annotations

import os
import re
import weakref
from dataclasses import dataclass
from datetime import date, datetime
from enum import Enum
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

FIRST_LOAD_PREFIX = "LOAD00000001"  # ref: anonymization_dataframe_operator.rs:69
_DMS_CDC_TS = re.compile(r"^(\d{8})-?(\d{9,})?")  # e.g. 20240115-123456789.parquet


class FileClass(Enum):
    FIRST_LOAD = "first_load"
    LOAD = "load"
    CDC = "cdc"


def classify_file(path: str) -> FileClass:
    name = Path(path).name
    if name.startswith(FIRST_LOAD_PREFIX):
        return FileClass.FIRST_LOAD
    if name.startswith("LOAD"):
        return FileClass.LOAD
    return FileClass.CDC


def cdc_file_date(path: str) -> date | None:
    """Date encoded in a DMS CDC file name (None for LOAD files)."""
    if classify_file(path) in (FileClass.FIRST_LOAD, FileClass.LOAD):
        return None
    m = _DMS_CDC_TS.match(Path(path).name)
    if not m:
        return None
    try:
        return datetime.strptime(m.group(1), "%Y%m%d").date()
    except ValueError:
        return None


@dataclass(frozen=True)
class TableFiles:
    load_files: tuple[str, ...]
    cdc_files: tuple[str, ...]


def _list_s3_parquet(table_dir: str, s3_client=None) -> list[str]:
    """All ``.parquet`` object URIs under an ``s3://bucket/prefix`` dir,
    via paginated ``list_objects_v2`` (the reference lists per-table S3
    objects the same way, ref: cdc_operator.rs:183-219).

    ``s3_client`` is injectable for tests; without one, boto3 is
    imported lazily (not baked into this environment — import-gated).
    """
    if s3_client is None:
        # env-contract client: S3_VPC_ENDPOINT / S3_BUCKET_REGION honored
        # (ref: rustic-s3-config/src/lib.rs:8-34)
        from rustic_witcher_spark.s3config import create_s3_client  # noqa: PLC0415

        s3_client = create_s3_client()
    bucket, _, prefix = table_dir.removeprefix("s3://").partition("/")
    # bucket-root listing: an empty prefix must stay empty — "/" matches no keys
    prefix = prefix.rstrip("/") + "/" if prefix else ""
    keys: list[str] = []
    kwargs = {"Bucket": bucket, "Prefix": prefix}
    while True:
        resp = s3_client.list_objects_v2(**kwargs)
        for obj in resp.get("Contents", []):
            key = obj["Key"]
            # direct children only — a nested prefix is another table's dir
            if key.endswith(".parquet") and "/" not in key.removeprefix(prefix):
                keys.append(f"s3://{bucket}/{key}")
        if not resp.get("IsTruncated"):
            break
        kwargs["ContinuationToken"] = resp["NextContinuationToken"]
    return sorted(keys)


def list_table_files(
    table_dir: str | Path,
    mode: str = "FullLoadOnly",
    start_date: date | None = None,
    stop_date: date | None = None,
    absolute_path: str | None = None,
    s3_client=None,
) -> TableFiles:
    """File discovery, three modes mirroring the reference's CLI
    (ref: cdc_operator.rs:183-219, src/main.rs:73-79):

    - ``FullLoadOnly``: LOAD* files only
    - ``DateAware``: LOAD* plus CDC files within [start_date, stop_date];
      start_date required (ref :184-186)
    - ``AbsolutePath``: exactly the one given file

    ``table_dir`` may be a local directory or an ``s3://bucket/prefix``
    URI — classification and date-window logic are identical either way.
    """
    if mode == "AbsolutePath":
        if not absolute_path:
            raise ValueError("AbsolutePath mode requires absolute_path")
        f = (absolute_path,)
        return TableFiles(f, ()) if classify_file(absolute_path) != FileClass.CDC else TableFiles((), f)

    if str(table_dir).startswith("s3://"):
        all_files = _list_s3_parquet(str(table_dir), s3_client)
    else:
        all_files = sorted(str(p) for p in Path(table_dir).glob("*.parquet"))
    loads = tuple(f for f in all_files if classify_file(f) in (FileClass.FIRST_LOAD, FileClass.LOAD))
    if mode == "FullLoadOnly":
        return TableFiles(loads, ())
    if mode == "DateAware":
        if start_date is None:
            raise ValueError("DateAware mode requires start_date")
        cdc = []
        for f in all_files:
            d = cdc_file_date(f)
            if d is None and classify_file(f) == FileClass.CDC:
                continue
            if d is not None and d >= start_date and (stop_date is None or d <= stop_date):
                cdc.append(f)
        return TableFiles(loads, tuple(cdc))
    raise ValueError(f"unknown mode: {mode}")


def prune_load_files(load_files: tuple[str, ...], keep_num_of_records: int | None) -> tuple[str, ...]:
    """S3 whole-file pruning: when record reduction is active only the
    first LOAD file is read; the rest are skipped before download
    (ref: anonymization_dataframe_operator.rs:60-82)."""
    if keep_num_of_records is None:
        return load_files
    return tuple(f for f in load_files if classify_file(f) == FileClass.FIRST_LOAD) or load_files[:1]


def pin_parquet_confs(spark: SparkSession) -> None:
    """Pin the runtime confs every engine read path depends on.

    Callers may hand us an arbitrary (vanilla) SparkSession — e.g. the
    driver's — so these are set at read time, not only in the engine's
    own session factory. Naive parquet timestamps must arrive as
    session-TZ TIMESTAMP (NTZ can't cast to double/long) and render in
    UTC to match the DuckDB oracles' naive reading; ns-precision
    columns (Spark has no TIMESTAMP(NANOS)) arrive as raw long nanos,
    which ``read_events`` truncates to micros. All three confs are
    runtime-settable and take effect at ACTION time, so there is
    deliberately no save/restore: the returned DataFrames are lazy,
    and the confs must still hold when the caller materializes them.

    Memoized per live session: a conf.set is a py4j round-trip
    (~1.7 ms here) and the engine's entries call this hundreds of
    times per run. A host that deliberately FLIPS these confs between
    engine calls would defeat the memo — that host is already outside
    the engine's documented contract (see the no-save/restore note
    above); re-pinning on a new/replaced session still works because
    the memo keys on the session object itself.
    """
    if spark in _PINNED_SESSIONS:
        return
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _PINNED_SESSIONS.add(spark)


# WeakSet so a stopped/garbage-collected session does not leak; a new
# SparkSession object (even in the same JVM) re-pins.
_PINNED_SESSIONS: "weakref.WeakSet" = weakref.WeakSet()


def cast_ntz_timestamps(df: DataFrame, schema: StructType | None = None) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to session-TZ TIMESTAMP.

    ``pin_parquet_confs`` disables NTZ *inference*, but parquet written
    BY SPARK carries an explicit NTZ marker that overrides inference —
    so a table round-tripped through a default Spark writer comes back
    NTZ and breaks every epoch/interval expression downstream
    (NTZ casts to neither long nor double). Under the engine's pinned
    UTC session the cast is wall-clock-identity, so accepting both
    layouts costs nothing.

    A caller already holding ``df``'s schema (e.g. from the schema
    cache) passes it to skip the py4j round of ``df.schema``."""
    out = df
    for f in (schema or df.schema).fields:
        if f.dataType.typeName() == "timestamp_ntz":
            out = out.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return out


def read_table_files(
    spark: SparkSession,
    files: tuple[str, ...],
    keep_num_of_records: int | None = None,
) -> DataFrame:
    """Read a table's file set — the way every input Parquet table enters
    the engine. Pins the confs (vanilla caller sessions must not get
    TIMESTAMP_NTZ, ADVICE r04), prunes LOAD files for record reduction,
    reads, normalizes NTZ columns and applies the record-reduction slice.

    The limit compiles to Catalyst GlobalLimit with parquet scan-side
    row pushdown — only the needed leading row groups are decoded
    (the reference's slice pushdown, ref :116-125).
    """
    pin_parquet_confs(spark)
    df = cast_ntz_timestamps(spark.read.parquet(*prune_load_files(files, keep_num_of_records)))
    if keep_num_of_records is not None:
        df = df.limit(keep_num_of_records)
    return df


def read_fixed_table(spark: SparkSession, path: str) -> DataFrame:
    """``read_table_files`` for one fixed-path table that is read again
    and again (the registry's sf tables), through a schema cache.

    Footer inference costs a py4j round plus a JVM file-listing+footer
    read (~60-90 ms on this host) per ``spark.read.parquet`` call, and
    the registry re-reads the same paths hundreds of times per run. The
    cache holds the inferred SCHEMA only — never rows or plan results:
    every call still builds a fresh scan. It is keyed by
    (path, mtime_ns, size), so a table regenerated in-process with a
    new schema re-infers instead of reading through a stale schema
    (ADVICE r12); for a directory table the dir's own stat changes
    whenever part files are added or replaced. A DMS export is a new
    file set on every run and an ``s3://`` path cannot be stat'ed, so
    neither belongs here.
    """
    schema = _cached_schema(spark, path)
    return cast_ntz_timestamps(spark.read.schema(schema).parquet(path), schema)


def _cached_schema(spark: SparkSession, path: str) -> StructType:
    pin_parquet_confs(spark)  # the inferred schema depends on the pinned confs
    try:
        st = os.stat(path)
    except OSError:  # no stat, no key that could go stale: infer per read
        return spark.read.parquet(path).schema
    key = (path, st.st_mtime_ns, st.st_size)
    if key not in _SCHEMA_CACHE:
        _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return _SCHEMA_CACHE[key]


_SCHEMA_CACHE: dict[tuple, StructType] = {}


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table, converting its ns-precision ``ts`` to a
    microsecond TimestampType column.

    Spark has no nanosecond timestamp type — with
    ``spark.sql.legacy.parquet.nanosAsLong`` (pinned by
    ``pin_parquet_confs``) the parquet column arrives as raw long
    nanos; truncate to micros (DuckDB's TIMESTAMP cast does the same,
    keeping oracles exact).
    """
    path = f"{sf_dir}/events.parquet"
    df = read_fixed_table(spark, path)
    if _cached_schema(spark, path)["ts"].dataType.typeName() == "long":
        df = df.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    return df
