"""Parquet sink (S6, SURVEY §2.1).

The reference writes anonymized Parquet with 10k row groups and
parallel encode (ref: anonymization_dataframe_operator.rs:396-428);
Spark's writer is already parallel per partition — row-group size maps
to ``parquet.block.size`` and output file count to the DataFrame's
partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# ref row-group size 10,000 rows ≈ a few MB; expressed in bytes for parquet-mr
DEFAULT_BLOCK_SIZE = 8 * 1024 * 1024


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    block_size: int = DEFAULT_BLOCK_SIZE,
    partition_by: list[str] | None = None,
    target_files: int | None = None,
) -> int:
    """Write a DataFrame as Parquet and return the number of rows written.

    The count rides the write job as an observed metric: a count()
    afterwards would re-run the whole lineage, and counting the written
    files costs two more jobs. The write must run a job for the count to
    arrive, so ``mode="ignore"`` over an existing path is not supported.

    ``target_files`` coalesces (no shuffle) to bound output file count —
    at 100 TB leave it None and let upstream partitioning decide; for
    small anonymization outputs, 1 file per table mirrors the reference's
    per-file layout.
    """
    rows = Observation()
    df = df.observe(rows, F.count(F.lit(1)).alias("n"))
    if target_files is not None:
        df = df.coalesce(target_files)
    writer = df.write.mode(mode).option("parquet.block.size", str(block_size))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return int(rows.get["n"])
