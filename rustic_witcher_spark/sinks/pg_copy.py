"""Distributed Postgres COPY bulk load — the scale path for S8.

A ``df.write.jdbc`` bulk writer (one choice of ``pg_sync``'s
``write_dataframe`` hook) issues batched INSERTs — fine for
modest CDC batches, but Postgres ingests bulk data ~an order of
magnitude faster through the COPY protocol, and the reference's own
live flow loads with COPY (see tests/test_pg_live.py's psql hook).
This module makes COPY a first-class, *distributed* sink:

- **Row rendering is Catalyst, not Python**: each row becomes one
  COPY text-format line via concat_ws/regexp_replace expressions
  (null → ``\\N``, backslash/tab/newline/CR escaped per the COPY TEXT
  spec) — whole-stage codegen, so 100 TB of formatting runs JVM-side.
- **One COPY stream per partition**: ``foreachPartition`` hands each
  partition's lines to an injected ``copy_runner(lines_iter)`` which
  pipes them into ``COPY ... FROM STDIN``. Parallel COPY connections
  are the documented Postgres bulk-load practice; parallelism is
  controlled by repartitioning the input, backpressure by the pipe.
  Only the final socket write is Python — it is IO-bound by design.

The runner is injected (the container has no psycopg); tests drive a
psql-backed runner against the scratch live server and a recording
fake for the escaping contract.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def copy_sql(qualified_table: str, columns: list[str]) -> str:
    """``COPY tbl (cols) FROM STDIN`` — text format, the default (tab
    delimiter, ``\\N`` null, backslash escapes)."""
    col_list = ", ".join(f'"{c}"' for c in columns)
    return f"COPY {qualified_table} ({col_list}) FROM STDIN"


def _escape_text(col: Column) -> Column:
    """COPY TEXT escaping: backslash first, then delimiter/newline/CR."""
    out = F.regexp_replace(col, r"\\", r"\\\\")
    out = F.regexp_replace(out, "\t", r"\\t")
    out = F.regexp_replace(out, "\n", r"\\n")
    out = F.regexp_replace(out, "\r", r"\\r")
    return out


def copy_lines(df: DataFrame) -> DataFrame:
    """Render every row as one COPY text-format line (column ``line``).

    Pure Catalyst: cast to string, escape, null → ``\\N``, join with
    tabs. Timestamp/date/numeric casts use Spark's string rendering —
    all of which Postgres's input parsers accept.
    """
    parts = [
        F.coalesce(_escape_text(F.col(f.name).cast("string")), F.lit(r"\N"))
        for f in df.schema.fields
    ]
    return df.select(F.concat_ws("\t", *parts).alias("line"))


def copy_load(
    df: DataFrame,
    copy_runner: Callable[[Iterator[str]], None],
    num_streams: int | None = None,
) -> None:
    """Bulk-load ``df`` through parallel COPY streams.

    ``copy_runner`` receives an iterator of text-format lines (no
    trailing newline) and must pipe them into one
    ``COPY ... FROM STDIN`` on its own connection; it runs once per
    partition, on executors. ``num_streams`` repartitions first —
    size it to what the Postgres server can absorb (each stream is
    one backend process server-side); leave None to inherit the
    input partitioning.
    """
    lines = copy_lines(df)
    if num_streams is not None:
        lines = lines.repartition(num_streams)
    lines.foreachPartition(lambda rows: copy_runner(r["line"] for r in rows))


def psql_copy_runner(sock: str, port: str, db: str, sql: str, user: str = "postgres"):
    """A psql-backed ``copy_runner`` (picklable top-level factory):
    streams the partition's lines into ``psql -c "COPY ..."`` over a
    unix socket. Real deployments would use psycopg's ``copy_expert``;
    psql is what this container ships."""

    def run(lines: Iterator[str]) -> None:
        import subprocess

        it = iter(lines)
        try:
            first = next(it)
        except StopIteration:
            return  # empty partition: don't open a COPY at all
        # stream into psql's stdin line-by-line — the partition must
        # never be materialized as one Python string (that's the whole
        # backpressure contract of copy_load); the OS pipe throttles us
        # to what the Postgres backend absorbs
        proc = subprocess.Popen(
            ["psql", "-h", sock, "-p", port, "-U", user, "-d", db,
             "-v", "ON_ERROR_STOP=1", "-qAtX", "-c", sql],
            stdin=subprocess.PIPE, stdout=subprocess.DEVNULL,
            stderr=subprocess.PIPE, text=True,
        )
        try:
            assert proc.stdin is not None
            proc.stdin.write(first + "\n")
            for line in it:
                proc.stdin.write(line + "\n")
            proc.stdin.close()
        except BrokenPipeError:
            pass  # psql died mid-stream; surface its stderr below
        err = proc.stderr.read() if proc.stderr else ""
        if proc.wait() != 0:
            raise RuntimeError(f"psql COPY failed (rc={proc.returncode}): {err.strip()}")

    return run
