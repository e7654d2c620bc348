"""CDC upsert semantics (J1 / S9, SURVEY §2.4).

The reference applies DMS CDC files as per-PK upserts, last-writer-wins
(ref: rustic-cdc-operator/src/cdc_operator.rs:308-328), with the DMS
``Op`` column (I/U/D) and ``_dms_ingestion_timestamp`` ordering. Spark
has no JDBC MERGE, so the engine expresses the merge as a DataFrame
dedupe: latest row per (composite) PK wins; a latest ``Op='D'`` deletes.

At scale this is ONE shuffle on the PK (window partitionBy) — the same
shuffle a MERGE would need — and AQE handles skewed keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rustic_witcher_spark.sources.parquet import read_table_files

OP_COLUMN = "Op"
TS_COLUMN = "_dms_ingestion_timestamp"
# where a CDC row was read: DMS file name and 0-based row in that file
FILE_COLUMN = "__cdc_file"
ROW_COLUMN = "__cdc_row"
META_COLUMNS = (OP_COLUMN, TS_COLUMN, FILE_COLUMN, ROW_COLUMN)


def read_cdc_files(spark: SparkSession, files: tuple[str, ...]) -> DataFrame:
    """Read DMS CDC files with each row's file name and row index
    (``FILE_COLUMN``/``ROW_COLUMN``) — the tie-break ``latest_by_pk``
    needs for changes that share a commit timestamp."""
    return read_table_files(spark, files).select(
        "*",
        F.col("_metadata.file_name").alias(FILE_COLUMN),
        F.col("_metadata.row_index").alias(ROW_COLUMN),
    )


def latest_by_pk(df: DataFrame, pk: list[str]) -> DataFrame:
    """Keep only the last-written row per primary key.

    Last written = latest ``_dms_ingestion_timestamp``; on a tie (the
    changes of one source transaction share a commit timestamp) the
    later DMS file, then the later row in it, when ``df`` carries them
    (``read_cdc_files``) — the order the reference applies CDC files in
    (ref: cdc_operator.rs:308-328). A frame without them breaks ties
    arbitrarily.

    CDC upserts require a PK by definition: a window over zero columns
    would collapse EVERY row into a single global survivor, so an
    empty key is refused rather than merged."""
    if not pk:
        raise ValueError("CDC merge needs a primary key, got no primary key columns")
    order = [TS_COLUMN] + [c for c in (FILE_COLUMN, ROW_COLUMN) if c in df.columns]
    w = Window.partitionBy(*pk).orderBy(*[F.col(c).desc() for c in order])
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def apply_cdc(base: DataFrame | None, cdc: DataFrame, pk: list[str]) -> DataFrame:
    """Merge CDC rows into a base (full-load) snapshot.

    Semantics: rows in ``cdc`` override rows in ``base`` with the same
    PK (the last-written row wins within ``cdc``, see ``latest_by_pk``);
    a winning ``Op='D'`` removes the key. Output drops the DMS metadata
    columns, yielding the post-merge table state. ``base=None`` means
    no snapshot yet (a table created after the full load): the result
    is the surviving CDC rows alone.
    """
    latest_cdc = latest_by_pk(cdc, pk)
    data_cols = [c for c in (cdc if base is None else base).columns if c not in META_COLUMNS]
    survivors = latest_cdc.filter(F.col(OP_COLUMN) != "D").select(*data_cols)
    if base is None:
        return survivors
    deleted_or_updated = latest_cdc.select(*pk)
    # base rows not touched by any CDC record + surviving CDC rows
    untouched = base.select(*data_cols).join(deleted_or_updated, on=pk, how="left_anti")
    return untouched.unionByName(survivors)
