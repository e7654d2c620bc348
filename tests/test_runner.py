"""Snapshot runner + CLI + Postgres SQL builders."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from rustic_witcher_spark.config.loader import load_config_str
from rustic_witcher_spark.runner import process_table, snapshot
from rustic_witcher_spark.sinks.parquet import write_parquet

CFG = """
[[tables]]
table_name = "customer"
keep_num_of_records = 50
[tables.anonymization_type]
type = "Multi"
[[tables.anonymization_type.column_transformations]]
column_name = "c_name"
[tables.anonymization_type.column_transformations.transformation_type]
type = "Custom"
operation_type = "fake_name_transformation"
"""


@pytest.fixture(scope="module")
def src(sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("src")
    for t in ["customer", "region"]:
        shutil.copyfile(Path(sf_dir) / f"{t}.parquet", d / f"{t}.parquet")
    return d


def test_snapshot_mixed_anonymize_and_copy(spark, src, tmp_path):
    report = snapshot(spark, src, tmp_path / "out", load_config_str(CFG))
    assert report.ok
    by_table = {r.table: r for r in report.results}
    assert by_table["customer"].action == "anonymized" and by_table["customer"].rows == 50
    assert by_table["region"].action == "copied"
    # passthrough is byte-identical (S7 contract)
    assert (tmp_path / "out" / "region.parquet").read_bytes() == (src / "region.parquet").read_bytes()
    # anonymized output readable + transformed
    out = spark.read.parquet(str(tmp_path / "out" / "customer.parquet"))
    assert out.count() == 50
    assert not [r for r in out.collect() if r["c_name"].startswith("Customer#")]


REPLACE_CFG = """
[[tables]]
table_name = "customer"
[tables.filter_type]
type = "StartsWith"
column = "c_name"
value = "{prefix}"
[tables.anonymization_type]
type = "Multi"
[[tables.anonymization_type.column_transformations]]
column_name = "c_name"
[tables.anonymization_type.column_transformations.transformation_type]
type = "Replace"
replacement_value = "REDACTED"
"""


def _last_job_id(spark) -> int:
    sc = spark.sparkContext
    # the status tracker is fed by the async listener bus; drain it so
    # jobs that already ran are all visible
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None) or [-1])


def test_write_parquet_returns_rows_written(spark, tmp_path):
    """The sink reports the rows it wrote from the write job itself —
    exact for empty, all-filtered and partitioned writes, one job each."""
    empty = spark.createDataFrame([], "id long, g string")
    df = spark.range(100).selectExpr("id", "cast(id % 3 AS string) AS g")
    for name, frame, kw, want in (
        ("empty", empty, {}, 0),
        ("filtered", df.filter("id < 0"), {}, 0),
        ("parts", df, {"partition_by": ["g"]}, 100),
    ):
        j0 = _last_job_id(spark)
        assert write_parquet(frame, str(tmp_path / name), **kw) == want, name
        assert _last_job_id(spark) - j0 == 1, name
    assert spark.read.parquet(str(tmp_path / "parts")).count() == 100


def test_cli_count_only_command_reads_nothing_back(spark, tmp_path, capsys):
    """novelty one-shot reports the rows the write produced; re-reading
    the target for a count() would cost two more jobs."""
    from rustic_witcher_spark import cli

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon"), (1, "alpha beta gamma delta epsilon"),
         (2, "completely different words here now")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    j0 = _last_job_id(spark)
    assert cli.main(["novelty", "--input", src, "--target", str(tmp_path / "scores")]) == 0
    assert _last_job_id(spark) - j0 == 6
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["scored_docs"] == 3


def test_cli_incremental_novelty_reads_no_scores_back(spark, tmp_path, capsys):
    """novelty --index reports the batch's scored docs from the count
    observed on its scores write (kept in the index meta), not from a
    read-back of the partition it has just written."""
    from rustic_witcher_spark import cli

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon"), (1, "alpha beta gamma delta epsilon"),
         (2, "completely different words here now")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    argv = ["novelty", "--input", src, "--index", str(tmp_path / "idx")]
    for batch, jobs in ((0, 9), (1, 8)):
        j0 = _last_job_id(spark)
        assert cli.main(argv) == 0
        assert _last_job_id(spark) - j0 == jobs, batch
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep == {"mode": "incremental", "index": argv[-1], "batch": batch, "ran": True, "scored_docs": 3}


def test_process_table_runs_pipeline_once(spark, src, tmp_path):
    """An anonymized flat-file table costs two Spark jobs: the Parquet
    schema inference on read and the write. The reported row count
    rides the write instead of re-running the pipeline for a count()."""
    cfg = load_config_str(REPLACE_CFG.format(prefix="Customer#")).table("customer")
    j0 = _last_job_id(spark)
    res = process_table(spark, "customer", src / "customer.parquet", cfg, tmp_path)
    assert _last_job_id(spark) - j0 == 2
    assert res.action == "anonymized" and res.files_read == 1
    assert res.rows == spark.read.parquet(str(src / "customer.parquet")).count()
    assert spark.read.parquet(str(tmp_path / "customer.parquet")).count() == res.rows


def test_process_table_reports_zero_rows_when_filter_keeps_none(spark, src, tmp_path):
    cfg = load_config_str(REPLACE_CFG.format(prefix="no such prefix")).table("customer")
    res = process_table(spark, "customer", src / "customer.parquet", cfg, tmp_path)
    assert res.action == "anonymized", res.error
    assert res.rows == 0
    assert spark.read.parquet(str(tmp_path / "customer.parquet")).count() == 0


def test_snapshot_included_tables(spark, src, tmp_path):
    report = snapshot(spark, src, tmp_path / "out2", load_config_str(CFG), included_tables=["region"])
    assert [r.table for r in report.results] == ["region"]


def test_snapshot_drift_check_errors(spark, src, tmp_path):
    report = snapshot(
        spark, src, tmp_path / "out3", load_config_str(CFG),
        included_tables=["customer"], catalog={"customer": ["c_custkey", "c_name"]},
    )
    assert not report.ok
    assert "SchemaDriftError" in report.results[0].error


def test_cli_end_to_end(src, tmp_path):
    cfg_dir = tmp_path / "cfg"
    cfg_dir.mkdir()
    (cfg_dir / "demo-public-sync.toml").write_text(CFG)
    proc = subprocess.run(
        [
            sys.executable, "-m", "rustic_witcher_spark.cli", "anonymize",
            "--database", "demo", "--schema", "public",
            "--source", str(src), "--target", str(tmp_path / "cli_out"),
            "--config-dir", str(cfg_dir), "--num-buffers", "2",
        ],
        capture_output=True, text=True, timeout=300,
        env={"SPARK_GRAFT_CPUS": "4", "PATH": "/usr/bin:/bin:/usr/local/bin", "HOME": "/root",
             "JAVA_HOME": __import__("os").environ.get("JAVA_HOME", ""),
             "PYTHONPATH": str(Path(__file__).resolve().parent.parent)},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    assert {x["table"]: x["action"] for x in lines} == {"customer": "anonymized", "region": "copied"}


def test_included_tables_from_file(tmp_path):
    from rustic_witcher_spark.cli import included_tables_from_file

    f = tmp_path / "tables.txt"
    f.write_text("customer\npublic/orders\n# comment\n\ndeep/path/nation\n")
    assert included_tables_from_file(str(f)) == ["customer", "orders", "nation"]


def test_postgres_sql_builders():
    from rustic_witcher_spark.sinks import postgres_ops as pg

    assert pg.drop_schema_sql("s") == "DROP SCHEMA IF EXISTS s CASCADE"
    stmts = pg.create_import_role_sql("imp", "pw", "public", pg16_grant_to="admin")
    assert any("session_replication_role = 'replica'" in s for s in stmts)
    assert stmts[-1] == "GRANT imp TO admin"
    assert pg.setval_sql("users_id_seq", "users", "id") == (
        "SELECT setval('users_id_seq', COALESCE((SELECT MAX(id) FROM users), 1))"
    )
    assert pg.split_post_import_sql("a; b ;;\n c;") == ["a", "b", "c"]
    assert pg.pg_dump_command("postgres://u@h/db", "public", "/tmp/d.sql")[0] == "pg_dump"
    with pytest.raises(pg.PostgresUnavailable):
        pg.run_statements(["SELECT 1"], None)
    ran = []
    pg.run_statements(["SELECT 1", "SELECT 2"], ran.append)
    assert ran == ["SELECT 1", "SELECT 2"]


DMS_CFG = """
[[tables]]
table_name = "accounts"
[tables.anonymization_type]
type = "Multi"
[[tables.anonymization_type.column_transformations]]
column_name = "name"
[tables.anonymization_type.column_transformations.transformation_type]
type = "Replace"
replacement_value = "X"
"""


@pytest.fixture()
def dms_src(tmp_path):
    """DMS-style table dir: one LOAD file + one CDC file with Op/ts."""
    import pandas as pd

    d = tmp_path / "dms_src" / "accounts"
    d.mkdir(parents=True)
    pd.DataFrame({"k": [1, 2, 3], "name": ["a", "b", "c"]}).to_parquet(d / "LOAD00000001.parquet")
    pd.DataFrame(
        {
            "k": [2, 2, 3, 4],
            "name": ["b1", "b2", "c", "d"],
            "Op": ["U", "U", "D", "I"],
            "_dms_ingestion_timestamp": [1, 2, 1, 1],
        }
    ).to_parquet(d / "20240115-000000001.parquet")
    return tmp_path / "dms_src"


def test_dateaware_merges_cdc(spark, dms_src, tmp_path):
    """DateAware is per-PK upsert/delete over the LOAD snapshot
    (cdc_operator.rs:308-328), not a naive union: superseded versions and
    Op='D' tombstones must not survive, DMS metadata columns are dropped."""
    from datetime import date

    report = snapshot(
        spark, dms_src, tmp_path / "out_cdc", load_config_str(DMS_CFG),
        mode="DateAware", start_date=date(2024, 1, 1),
        primary_keys={"accounts": ["k"]},
    )
    assert report.ok, report.results
    out = spark.read.parquet(str(tmp_path / "out_cdc" / "accounts.parquet"))
    assert set(out.columns) == {"k", "name"}  # Op/_dms_ingestion_timestamp gone
    rows = {r["k"]: r["name"] for r in out.collect()}
    # k=2 updated (last writer b2, then anonymized), k=3 deleted, k=4 inserted
    assert set(rows) == {1, 2, 4}
    assert all(v == "X" for v in rows.values())


def test_dateaware_without_pk_errors(spark, dms_src, tmp_path):
    report = snapshot(
        spark, dms_src, tmp_path / "out_nopk", load_config_str(DMS_CFG),
        mode="DateAware", start_date=__import__("datetime").date(2024, 1, 1),
    )
    assert not report.ok
    assert "primary key" in report.results[0].error


def test_dateaware_limit_applies_to_load_only(spark, dms_src, tmp_path):
    """keep_num_of_records slices the LOAD snapshot; CDC rows still merge."""
    cfg = load_config_str(DMS_CFG.replace('table_name = "accounts"', 'table_name = "accounts"\nkeep_num_of_records = 2'))
    from datetime import date

    report = snapshot(
        spark, dms_src, tmp_path / "out_lim", cfg,
        mode="DateAware", start_date=date(2024, 1, 1),
        primary_keys={"accounts": ["k"]},
    )
    assert report.ok, report.results
    out = spark.read.parquet(str(tmp_path / "out_lim" / "accounts.parquet"))
    ks = {r["k"] for r in out.collect()}
    # LOAD limited to first 2 rows {1,2}; CDC updates 2, deletes 3 (absent), inserts 4
    assert ks == {1, 2, 4}


def test_upload_anonymized_files_gate(spark, src, tmp_path, monkeypatch):
    """UPLOAD_ANONYMIZED_FILES=true copies anonymized outputs to
    ANONYMIZED_BUCKET as well (anonymization_dataframe_operator.rs:450-460)."""
    bucket = tmp_path / "anon_bucket"
    monkeypatch.setenv("UPLOAD_ANONYMIZED_FILES", "true")
    monkeypatch.setenv("ANONYMIZED_BUCKET", str(bucket))
    report = snapshot(spark, src, tmp_path / "out_up", load_config_str(CFG), included_tables=["customer"])
    assert report.ok
    assert (bucket / "customer.parquet").exists()
    # the uploaded copy is a readable, identical anonymized table
    up = spark.read.parquet(str(bucket / "customer.parquet"))
    main_out = spark.read.parquet(str(tmp_path / "out_up" / "customer.parquet"))
    assert sorted(map(tuple, up.collect())) == sorted(map(tuple, main_out.collect()))


def test_upload_gate_requires_bucket(spark, src, tmp_path, monkeypatch):
    monkeypatch.setenv("UPLOAD_ANONYMIZED_FILES", "true")
    monkeypatch.delenv("ANONYMIZED_BUCKET", raising=False)
    report = snapshot(spark, src, tmp_path / "out_up2", load_config_str(CFG), included_tables=["customer"])
    assert not report.ok
    assert "ANONYMIZED_BUCKET" in report.results[0].error


def test_dateaware_cdc_only_directory(spark, tmp_path):
    """A table created after the full load has only CDC files: the
    snapshot materializes purely from CDC inserts (no LOAD crash)."""
    import pandas as pd
    from datetime import date

    d = tmp_path / "cdc_only_src" / "accounts"
    d.mkdir(parents=True)
    pd.DataFrame(
        {"k": [1, 2, 2], "name": ["a", "b0", "b1"],
         "Op": ["I", "I", "U"], "_dms_ingestion_timestamp": [1, 1, 2]}
    ).to_parquet(d / "20240115-000000001.parquet")
    j0 = _last_job_id(spark)
    report = snapshot(
        spark, tmp_path / "cdc_only_src", tmp_path / "out_cdconly", load_config_str(DMS_CFG),
        mode="DateAware", start_date=date(2024, 1, 1),
        primary_keys={"accounts": ["k"]},
    )
    assert report.ok, report.results
    # the CDC files' schema is inferred once (no hand-built empty base
    # reading them a second time); the other two jobs are the write
    assert _last_job_id(spark) - j0 == 3
    out = spark.read.parquet(str(tmp_path / "out_cdconly" / "accounts.parquet"))
    rows = {r["k"]: r["name"] for r in out.collect()}
    assert set(rows) == {1, 2} and all(v == "X" for v in rows.values())
