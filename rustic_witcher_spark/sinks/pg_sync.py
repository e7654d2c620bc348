"""End-to-end Postgres sync orchestration — the reference's full
snapshot-to-database flow, expressed over pluggable infra hooks.

Flow parity (no Postgres ships in this environment, so the two infra
touchpoints — statement execution and bulk dataframe write — are
injected callables; everything else is real):

1. prepare target    — drop schema, extensions, import role
                       (rustic-target-db/src/target_db_preparator.rs:57-226)
2. per table         — LOAD files: anonymize → bulk insert
                       (rustic-cdc-operator/src/cdc_operator.rs:250-307);
                       CDC files: anonymize → last-writer-wins per PK →
                       stage → DELETE tombstones → INSERT ON CONFLICT
                       (cdc_operator.rs:308-328)
3. finalize target   — sequence SETVAL sync from MAX(pk), app-user
                       grants, ';'-split post-import SQL
                       (rustic-target-db/src/target_db_finalizer.rs:17-198)

A recording fake ``execute`` makes the exact statement sequence
assertable in tests; a psycopg/JDBC-backed one makes it production.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rustic_witcher_spark.config.model import AnonymizationConfig
from rustic_witcher_spark.functions.wordlists import DEFAULT_SEED
from rustic_witcher_spark.operators.cdc import META_COLUMNS, OP_COLUMN, latest_by_pk, read_cdc_files
from rustic_witcher_spark.plans.pipeline import anonymize_table
from rustic_witcher_spark.sinks.postgres_ops import (
    OWNED_SEQUENCES_QUERY,
    create_extensions_sql,
    create_import_role_sql,
    drop_schema_sql,
    grant_app_users_sql,
    pg_dump_command,
    pg_restore_command,
    setval_sql,
    split_post_import_sql,
)
from rustic_witcher_spark.sources.parquet import list_table_files, read_table_files


@dataclass
class PgSyncHooks:
    """The two infra touchpoints, plus an optional catalog reader.

    - ``execute(sql)``: run one statement on the target connection.
    - ``write_dataframe(df, qualified_table, mode)``: bulk-load a
      DataFrame ("append" for LOAD inserts, "overwrite" for staging) —
      JDBC/psycopg COPY in production, a recorder in tests.
    - ``query(sql)``: catalog reads (owned-sequences lookup); returns
      rows of tuples.
    - ``run_command(argv)``: subprocess execution for the pg_dump /
      pg_restore schema copy (O1/O3); ``prepare_target`` falls back to
      ``shell.execute_cmd`` (the O10 executor) when unset.
    """

    execute: Callable[[str], None]
    write_dataframe: Callable[[DataFrame, str, str], None]
    query: Callable[[str], list[tuple]] | None = None
    run_command: Callable[[list[str]], None] | None = None


@dataclass
class TableSyncResult:
    table: str
    load_rows_written: bool = False
    cdc_statements: list[str] = field(default_factory=list)


def cdc_delete_sql(table: str, staging: str, pk: list[str]) -> str:
    """Tombstone application: a CDC row whose latest Op is 'D' removes
    the key from the target (cdc_operator.rs:308-328 semantics).

    ``Op`` is quoted: the DMS column is mixed-case, and an unquoted
    identifier would fold to ``op`` on Postgres and miss the
    case-preserved column a JDBC writer creates."""
    pkl = ", ".join(pk)
    return f'DELETE FROM {table} WHERE ({pkl}) IN (SELECT {pkl} FROM {staging} WHERE "{OP_COLUMN}" = \'D\')'


def upsert_sql(table: str, columns: list[str], pk: list[str], staging: str | None = None) -> str:
    """Build the Postgres ``INSERT ... ON CONFLICT`` statement used to
    merge a staged batch into the target table (composite PKs joined as
    in the reference's comma-joined PK list, ref: cdc_operator.rs:310-328).
    """
    src = staging or f"{table}__staging"
    col_list = ", ".join(columns)
    conflict = ", ".join(pk)
    updates = ", ".join(f"{c} = EXCLUDED.{c}" for c in columns if c not in pk)
    return (
        f"INSERT INTO {table} ({col_list}) SELECT {col_list} FROM {src} "
        f"ON CONFLICT ({conflict}) DO UPDATE SET {updates}"
    )


def cdc_upsert_sql(table: str, columns: list[str], pk: list[str], staging: str) -> str:
    """Upsert the surviving (non-tombstone) staged rows."""
    src = f'(SELECT * FROM {staging} WHERE "{OP_COLUMN}" <> \'D\') AS __cdc'
    return upsert_sql(table, columns, pk, staging=src)


def prepare_target(
    hooks: PgSyncHooks,
    schema: str,
    extensions: list[str] = (),
    import_role: str | None = None,
    import_role_password: str = "",
    pg16_grant_to: str | None = None,
    source_url: str | None = None,
    target_url: str | None = None,
    dump_file: str = "/tmp/schema.dump",
) -> None:
    """O1–O4 (target_db_preparator.rs:57-226): drop schema, recreate it
    from the source's schema-only pg_dump when URLs are provided,
    extensions, import role. ``hooks.run_command`` overrides the
    executor; the default is ``shell.execute_cmd`` (O10 — the
    reference runs pg_dump/pg_restore without the stdout error-line
    scan, target_db_preparator.rs:46,128, so neither call sets
    ``check_for_error``)."""
    from rustic_witcher_spark.shell import execute_cmd

    hooks.execute(drop_schema_sql(schema))
    if source_url and target_url:
        run_command = hooks.run_command or execute_cmd
        run_command(pg_dump_command(source_url, schema, dump_file))
        run_command(pg_restore_command(target_url, dump_file))
    for s in create_extensions_sql(list(extensions)):
        hooks.execute(s)
    if import_role:
        for s in create_import_role_sql(import_role, import_role_password, schema, pg16_grant_to):
            hooks.execute(s)


def sync_table(
    spark: SparkSession,
    hooks: PgSyncHooks,
    table: str,
    path: Path,
    config: AnonymizationConfig,
    schema: str,
    primary_key: list[str],
    mode: str = "DateAware",
    start_date=None,
    stop_date=None,
    seed: int = DEFAULT_SEED,
) -> TableSyncResult:
    """One table's LOAD insert + CDC upsert (cdc_operator.rs:250-328).

    LOAD and CDC frames are anonymized with the SAME pipeline before
    hitting the database — the reference anonymizes every file it
    ships, both classes.
    """
    cfg = config.table(table)
    qualified = f"{schema}.{table}"
    res = TableSyncResult(table)
    listed = list_table_files(path, mode, start_date, stop_date)

    if listed.load_files:
        df = read_table_files(spark, listed.load_files, cfg.keep_num_of_records if cfg else None)
        if cfg is not None:
            df = anonymize_table(df, cfg, seed, limit_already_applied=True)
        hooks.write_dataframe(df, qualified, "append")
        res.load_rows_written = True

    if listed.cdc_files:
        cdc = read_cdc_files(spark, listed.cdc_files)
        data_cols = [c for c in cdc.columns if c not in META_COLUMNS]
        # Dedupe to the last writer per PK FIRST, then anonymize the
        # winners (deterministic per-value transforms commute with the
        # dedupe for data columns). Anonymizing before the dedupe and
        # joining metadata back on the PK is wrong twice over: a PK with
        # several CDC versions cross-products against its metadata rows
        # (stale values can win), and a transformed PK column would no
        # longer join its own metadata at all. latest_by_pk refuses
        # pk=[] here, before any staging write or SQL statement.
        staged = latest_by_pk(cdc, primary_key).select(*data_cols, OP_COLUMN)
        if cfg is not None:
            staged = anonymize_table(staged, cfg, seed, limit_already_applied=True)
        staging = f"{qualified}__staging"
        hooks.write_dataframe(staged, staging, "overwrite")
        stmts = [
            cdc_delete_sql(qualified, staging, primary_key),
            cdc_upsert_sql(qualified, data_cols, primary_key, staging),
            f"DROP TABLE IF EXISTS {staging}",
        ]
        for s in stmts:
            hooks.execute(s)
        res.cdc_statements = stmts
    return res


def finalize_target(
    hooks: PgSyncHooks,
    schema: str,
    sequences: list[tuple[str, str, str]] | None = None,
    app_users: list[str] = (),
    owner: str | None = None,
    post_import_sql: str = "",
) -> None:
    """O6 + O7 + O8 (target_db_finalizer.rs:17-198).

    ``sequences`` is (sequence, table, pk_column) triples; when omitted
    and a ``query`` hook exists, they are discovered from the catalog
    via OWNED_SEQUENCES_QUERY (the reference's pg_depend join).
    """
    if sequences is None and hooks.query is not None:
        sequences = [tuple(r) for r in hooks.query(OWNED_SEQUENCES_QUERY.format(schema=schema))]
    for seq, table, col in sequences or ():
        hooks.execute(setval_sql(seq, f"{schema}.{table}", col))
    for s in grant_app_users_sql(schema, list(app_users), owner):
        hooks.execute(s)
    for s in split_post_import_sql(post_import_sql):
        hooks.execute(s)


def pg_snapshot(
    spark: SparkSession,
    hooks: PgSyncHooks,
    source_dir: str | Path,
    config: AnonymizationConfig,
    schema: str,
    primary_keys: dict[str, list[str]],
    mode: str = "DateAware",
    start_date=None,
    stop_date=None,
    extensions: list[str] = (),
    import_role: str | None = None,
    import_role_password: str = "",
    app_users: list[str] = (),
    sequences: list[tuple[str, str, str]] | None = None,
    post_import_sql: str = "",
    seed: int = DEFAULT_SEED,
    source_url: str | None = None,
    target_url: str | None = None,
) -> list[TableSyncResult]:
    """The whole reference flow: prepare → per-table sync → finalize."""
    prepare_target(
        hooks, schema, extensions, import_role, import_role_password,
        source_url=source_url, target_url=target_url,
    )
    results = []
    source_dir = Path(source_dir)
    for p in sorted(source_dir.iterdir()):
        if not p.is_dir():
            continue
        t = p.name
        results.append(
            sync_table(
                spark, hooks, t, p, config, schema,
                primary_keys.get(t, []), mode, start_date, stop_date, seed,
            )
        )
    finalize_target(hooks, schema, sequences, app_users, owner=import_role, post_import_sql=post_import_sql)
    return results
