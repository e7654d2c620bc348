"""DMS file-class semantics (S1–S4): classification, pruning, discovery."""

from __future__ import annotations

from datetime import date

import pytest

from rustic_witcher_spark.sources.parquet import (
    FileClass,
    cdc_file_date,
    classify_file,
    list_table_files,
    prune_load_files,
    read_table_files,
)


def test_classify():
    assert classify_file("s3://b/t/LOAD00000001.parquet") is FileClass.FIRST_LOAD
    assert classify_file("/x/LOAD00000002.parquet") is FileClass.LOAD
    assert classify_file("/x/20240115-123456789.parquet") is FileClass.CDC


def test_cdc_file_date():
    assert cdc_file_date("/x/20240115-123456789.parquet") == date(2024, 1, 15)
    assert cdc_file_date("/x/LOAD00000001.parquet") is None


def test_prune_load_files_active():
    files = tuple(f"/t/LOAD0000000{i}.parquet" for i in range(1, 4))
    assert prune_load_files(files, 100) == (files[0],)
    assert prune_load_files(files, None) == files


def _make_table_dir(tmp_path, spark):
    df1 = spark.createDataFrame([(i, f"v{i}") for i in range(100)], ["id", "v"])
    df2 = spark.createDataFrame([(i, f"v{i}") for i in range(100, 200)], ["id", "v"])
    for name, df in [("LOAD00000001", df1), ("LOAD00000002", df2)]:
        pdf = df.toPandas()
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.Table.from_pandas(pdf), str(tmp_path / f"{name}.parquet"))
    # CDC files on two dates
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(df1.limit(5).toPandas()), str(tmp_path / "20240110-000000001.parquet"))
    pq.write_table(pa.Table.from_pandas(df1.limit(5).toPandas()), str(tmp_path / "20240120-000000001.parquet"))
    return tmp_path


def test_list_modes(spark, tmp_path):
    d = _make_table_dir(tmp_path, spark)
    full = list_table_files(d, "FullLoadOnly")
    assert len(full.load_files) == 2 and not full.cdc_files
    aware = list_table_files(d, "DateAware", start_date=date(2024, 1, 15))
    assert len(aware.cdc_files) == 1 and "20240120" in aware.cdc_files[0]
    bounded = list_table_files(d, "DateAware", start_date=date(2024, 1, 1), stop_date=date(2024, 1, 15))
    assert len(bounded.cdc_files) == 1 and "20240110" in bounded.cdc_files[0]
    with pytest.raises(ValueError, match="start_date"):
        list_table_files(d, "DateAware")
    ap = list_table_files(d, "AbsolutePath", absolute_path=str(d / "LOAD00000001.parquet"))
    assert ap.load_files and not ap.cdc_files


def test_read_with_record_reduction(spark, tmp_path):
    """keep_num_of_records reads ONLY the first LOAD file, sliced (S2+S3)."""
    d = _make_table_dir(tmp_path, spark)
    files = list_table_files(d, "FullLoadOnly").load_files
    df = read_table_files(spark, files, keep_num_of_records=10)
    rows = df.collect()
    assert len(rows) == 10
    assert all(r["id"] < 100 for r in rows)  # nothing from LOAD00000002
    full = read_table_files(spark, files)
    assert full.count() == 200  # multi-file union without reduction


class FakeS3Client:
    """Minimal list_objects_v2 with pagination."""

    def __init__(self, keys_by_bucket, page_size=2):
        self.keys = keys_by_bucket
        self.page = page_size

    def list_objects_v2(self, Bucket, Prefix, ContinuationToken=None):
        matching = sorted(k for k in self.keys[Bucket] if k.startswith(Prefix))
        start = int(ContinuationToken or 0)
        chunk = matching[start : start + self.page]
        out = {"Contents": [{"Key": k} for k in chunk]}
        if start + self.page < len(matching):
            out["IsTruncated"] = True
            out["NextContinuationToken"] = str(start + self.page)
        return out


S3_KEYS = {
    "bkt": [
        "db/public/accounts/LOAD00000001.parquet",
        "db/public/accounts/LOAD00000002.parquet",
        "db/public/accounts/20240110-000000001.parquet",
        "db/public/accounts/20240120-000000001.parquet",
        "db/public/accounts/20240220-000000001.parquet",
        "db/public/accounts/notes.txt",
        "db/public/accounts/nested/LOAD00000001.parquet",  # another table's dir
        "db/public/accounts_history/LOAD00000001.parquet",  # sibling prefix
    ]
}


def test_s3_listing_full_load_only():
    files = list_table_files("s3://bkt/db/public/accounts", "FullLoadOnly", s3_client=FakeS3Client(S3_KEYS))
    assert files.load_files == (
        "s3://bkt/db/public/accounts/LOAD00000001.parquet",
        "s3://bkt/db/public/accounts/LOAD00000002.parquet",
    )
    assert files.cdc_files == ()


def test_s3_listing_date_aware_window():
    files = list_table_files(
        "s3://bkt/db/public/accounts", "DateAware",
        start_date=date(2024, 1, 15), stop_date=date(2024, 1, 31),
        s3_client=FakeS3Client(S3_KEYS),
    )
    assert len(files.load_files) == 2
    assert files.cdc_files == ("s3://bkt/db/public/accounts/20240120-000000001.parquet",)


def test_s3_listing_absolute_path():
    files = list_table_files(
        "s3://bkt/db/public/accounts", "AbsolutePath",
        absolute_path="s3://bkt/db/public/accounts/20240110-000000001.parquet",
        s3_client=FakeS3Client(S3_KEYS),
    )
    assert files.load_files == ()
    assert files.cdc_files == ("s3://bkt/db/public/accounts/20240110-000000001.parquet",)


def test_s3_listing_paginates():
    """More keys than one page: the ContinuationToken loop must walk all."""
    client = FakeS3Client(S3_KEYS, page_size=1)
    files = list_table_files("s3://bkt/db/public/accounts", "FullLoadOnly", s3_client=client)
    assert len(files.load_files) == 2


def test_partitioned_write_enables_partition_pruning(spark, sf_dir, tmp_path):
    """Date-partitioned output + a partition-key filter must prune at
    planning time (PartitionFilters), not scan-and-discard — the layout
    that makes incremental reprocessing cheap at 100 TB."""
    from pyspark.sql import functions as F

    from rustic_witcher_spark.sinks.parquet import write_parquet
    from rustic_witcher_spark.sources.parquet import read_events

    ev = read_events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    out = str(tmp_path / "ev_by_day")
    write_parquet(ev, out, partition_by=["day"])
    one_day = ev.select(F.min("day")).first()[0]
    df = spark.read.parquet(out).filter(F.col("day") == F.lit(one_day))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "day" in plan.split("PartitionFilters")[1][:200]
    assert df.count() > 0
    # and the non-matching partitions are not in the scan
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), "partition filter was not pushed"


def test_dynamic_partition_pruning_fires_on_dim_filter(spark, tmp_path, sf_dir):
    """Star-schema DPP, demonstrated: a day-partitioned fact joined to
    a dim filtered by an equality literal gets
    dynamicpruningexpression(...) in its PartitionFilters — the fact
    scan reads only the dim-selected partitions at runtime. NB the dim
    predicate must be 'likely selective' (comparison/IN/LIKE against a
    literal); a bare boolean attribute does NOT trigger the rule —
    worth knowing when a campaign flag column quietly disables DPP."""
    from pyspark.sql import functions as F

    from rustic_witcher_spark.sources.parquet import read_events

    ev = read_events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    ev.write.partitionBy("day").parquet(str(tmp_path / "fact"))
    days = ev.select("day").distinct().withColumn(
        "phase", F.when(F.dayofmonth("day") <= 3, "campaign").otherwise("normal")
    )
    days.write.parquet(str(tmp_path / "days"))

    fact = spark.read.parquet(str(tmp_path / "fact"))
    dim = spark.read.parquet(str(tmp_path / "days")).filter(F.col("phase") == "campaign")
    j = fact.join(dim, "day").agg(F.count(F.lit(1)).alias("n"))
    [row] = j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), "DPP did not fire"
    expected = ev.filter(F.dayofmonth("day") <= 3).count()
    assert row["n"] == expected


def test_schema_cache_rereads_a_rewritten_table(spark, tmp_path):
    """The fixed-table schema cache keys on (path, mtime_ns, size): a
    table or events file rewritten with one more column must read back
    with that column, not through the stale cached schema."""
    import pandas as pd

    from rustic_witcher_spark.queries import _read

    def write(extra: bool) -> None:
        t = pd.DataFrame({"id": [1, 2]})
        ev = pd.DataFrame({"event_id": [1, 2], "ts": pd.to_datetime(["2024-01-01", "2024-01-02"])})
        if extra:
            t["extra"] = ev["extra"] = ["a", "b"]
        t.to_parquet(tmp_path / "t.parquet")
        ev.to_parquet(tmp_path / "events.parquet")

    write(extra=False)
    for table in ("t", "events"):
        assert "extra" not in _read(spark, str(tmp_path), table).columns
    write(extra=True)
    for table in ("t", "events"):
        df = _read(spark, str(tmp_path), table)
        assert "extra" in df.columns
        assert sorted(r["extra"] for r in df.collect()) == ["a", "b"]
