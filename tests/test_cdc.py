"""CDC upsert semantics (J1/S9): last-writer-wins, delete handling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rustic_witcher_spark.operators.cdc import apply_cdc, latest_by_pk


def _base(spark):
    rows = [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]
    return (
        spark.createDataFrame(rows, ["id", "name", "val"])
        .withColumn("Op", F.lit("I"))
        .withColumn("_dms_ingestion_timestamp", F.lit(0).cast("long"))
    )


def _cdc(spark):
    rows = [
        (2, "b2", 21.0, "U", 1),
        (2, "b3", 22.0, "U", 2),  # later write wins
        (3, "c", 30.0, "D", 1),  # delete
        (4, "d", 40.0, "I", 1),  # new row
        (5, "e", 50.0, "I", 1),
        (5, "e", 50.0, "D", 2),  # inserted then deleted -> absent
    ]
    return spark.createDataFrame(rows, ["id", "name", "val", "Op", "_dms_ingestion_timestamp"])


def test_latest_by_pk(spark):
    latest = latest_by_pk(_cdc(spark), ["id"])
    by_id = {r["id"]: r for r in latest.collect()}
    assert by_id[2]["name"] == "b3"
    assert by_id[5]["Op"] == "D"


def test_apply_cdc(spark):
    out = apply_cdc(_base(spark), _cdc(spark), ["id"])
    rows = {r["id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 4}  # 3 deleted, 5 insert+delete, 1 untouched
    assert rows[1]["name"] == "a"
    assert rows[2]["name"] == "b3" and rows[2]["val"] == 22.0
    assert rows[4]["name"] == "d"
    assert "Op" not in out.columns and "_dms_ingestion_timestamp" not in out.columns


def test_apply_cdc_composite_pk(spark):
    base = (
        spark.createDataFrame([(1, "x", 1.0), (1, "y", 2.0)], ["k1", "k2", "v"])
        .withColumn("Op", F.lit("I"))
        .withColumn("_dms_ingestion_timestamp", F.lit(0).cast("long"))
    )
    cdc = spark.createDataFrame([(1, "x", 9.0, "U", 1)], ["k1", "k2", "v", "Op", "_dms_ingestion_timestamp"])
    rows = {(r["k1"], r["k2"]): r["v"] for r in apply_cdc(base, cdc, ["k1", "k2"]).collect()}
    assert rows == {(1, "x"): 9.0, (1, "y"): 2.0}


def test_empty_primary_key_is_refused(spark):
    """A window over zero key columns would keep one row of the whole
    CDC frame; both entry points refuse the empty key instead."""
    with pytest.raises(ValueError, match="no primary key"):
        latest_by_pk(_cdc(spark), [])
    with pytest.raises(ValueError, match="no primary key"):
        apply_cdc(_base(spark), _cdc(spark), [])


def test_apply_cdc_without_base_keeps_surviving_cdc_rows(spark):
    """base=None (no snapshot yet) equals the merge over an empty base."""
    empty = _base(spark).limit(0)
    got = apply_cdc(None, _cdc(spark), ["id"])
    assert got.columns == ["id", "name", "val"]
    assert sorted(got.collect()) == sorted(apply_cdc(empty, _cdc(spark), ["id"]).collect())
    assert {r["id"] for r in got.collect()} == {2, 4}


def test_upsert_sql_builder():
    from rustic_witcher_spark.sinks.jdbc import upsert_sql

    sql = upsert_sql("public.users", ["id", "name", "email"], ["id"])
    assert "ON CONFLICT (id)" in sql
    assert "name = EXCLUDED.name" in sql
    assert "id = EXCLUDED.id" not in sql
