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


# Same-timestamp CDC changes (one source transaction shares a commit
# timestamp): the reference applies CDC files in DMS file-name order and
# rows in file order, so the LAST of them wins. Three shapes, keyed
# k=1..3 over a LOAD snapshot of the same keys:
#   k=1  one file, U x / U y / U z         -> z
#   k=2  one file, D then I (re-insert)    -> the re-inserted row
#   k=3  8 files, one U each               -> the 8th file's row
TIE_CFG = """
[[tables]]
table_name = "accounts"
[tables.anonymization_type]
type = "Multi"
[[tables.anonymization_type.column_transformations]]
column_name = "note"
[tables.anonymization_type.column_transformations.transformation_type]
type = "Replace"
replacement_value = "X"
"""
TIE_WANT = {1: ("z", "U"), 2: ("back", "I"), 3: ("f7", "U")}


@pytest.fixture()
def tie_src(tmp_path):
    import pandas as pd

    d = tmp_path / "tie_src" / "accounts"
    d.mkdir(parents=True)
    pd.DataFrame({"k": [1, 2, 3], "name": ["a", "b", "c"], "note": ["n"] * 3}).to_parquet(d / "LOAD00000001.parquet")

    def cdc(i, rows):
        k, name, op = zip(*rows)
        pd.DataFrame(
            {"k": k, "name": name, "note": ["n"] * len(k), "Op": op, "_dms_ingestion_timestamp": [5] * len(k)}
        ).to_parquet(d / f"20240115-00000000{i}.parquet")

    cdc(0, [(1, "x", "U"), (1, "y", "U"), (1, "z", "U"), (2, "gone", "D"), (2, "back", "I"), (3, "f0", "U")])
    for i in range(1, 8):
        cdc(i, [(3, f"f{i}", "U")])
    return tmp_path / "tie_src"


def test_same_timestamp_ties_keep_the_last_written_row(spark, tie_src, tmp_path):
    from datetime import date

    from rustic_witcher_spark.config.loader import load_config_str
    from rustic_witcher_spark.runner import snapshot
    from rustic_witcher_spark.sinks.pg_sync import PgSyncHooks, sync_table

    cfg = load_config_str(TIE_CFG)
    report = snapshot(
        spark, tie_src, tmp_path / "out", cfg, mode="DateAware", start_date=date(2024, 1, 1),
        primary_keys={"accounts": ["k"]},
    )
    assert report.ok, report.results
    out = spark.read.parquet(str(tmp_path / "out" / "accounts.parquet"))
    assert sorted(out.columns) == ["k", "name", "note"]
    assert {r["k"]: r["name"] for r in out.collect()} == {k: v[0] for k, v in TIE_WANT.items()}

    staged = {}
    hooks = PgSyncHooks(
        execute=lambda sql: None,
        write_dataframe=lambda df, table, mode: staged.update(
            {table: {r["k"]: (r["name"], r["Op"]) for r in df.collect()}} if "Op" in df.columns else {}
        ),
    )
    sync_table(
        spark, hooks, "accounts", tie_src / "accounts", cfg, "public", ["k"],
        mode="DateAware", start_date=date(2024, 1, 1),
    )
    assert staged == {"public.accounts__staging": TIE_WANT}
