"""Local harness mimicking the driver's correctness gate — hash-faithful.

Runs every queries() entry at a given SF dir and compares row count,
column names, and **dtype-sensitive** stringified values against
oracle_sql() in DuckDB. Both sides go through pandas
(``DataFrame.toPandas()`` / ``fetchdf()``) so engine-specific dtype
conversions surface exactly as the driver sees them — e.g. DuckDB
``sum(int)`` → HUGEINT → float64 renders "11680.0" while Spark's long
renders "11680": that mismatch FAILS here now. The old gate compared
``fetchall()`` (HUGEINT → Python int → "11680") and so passed q12
twice while the driver failed it — rounds 5 and 6.

Faithfulness rules (calibrated round 7 against the r6 driver verdicts):
  * columns sorted by name; rows sorted canonically by their
    stringified tuples. The driver is empirically ORDER-INSENSITIVE:
    many driver-green entries (q1, events_tumbling, hll_users, ...)
    return different row orders in Spark vs DuckDB, so the r5 "row
    order" diagnosis of q12 was wrong — HUGEINT dtype was the whole
    bug;
  * no float rounding/normalization — exact ``str()`` of the pandas
    scalar, so int-vs-float and last-bit double drift both fail;
  * missing values (None/NaN/NaT) collapse to "NULL" on both sides —
    pandas already coerces nullable ints to float on both engines, so
    this is symmetric;
  * list-typed result columns are REJECTED outright (round 10): the
    driver's canonicalizer sorts rows via pandas and dies on container
    cells (``TypeError: unhashable type: 'list'`` — the
    feature_hash_embed r9 red). Element-wise normalization here let
    that schema pass locally while the driver erred — the same
    gate-faithfulness gap as the r5/r6 HUGEINT episode, one layer up.
    Entries must serialize vectors per the repo convention (6-dp
    comma-joined string, q_embedding_project). ``normalize`` keeps its
    element-wise container path only for NESTED values the rejection
    scan reports in its error message.

The last line printed is ``registry <16hex> <16hex>`` (``registry_hash``),
pinned by tests/test_r10_ops.py.

Usage: python scripts/compare_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


def create_views(con, sf_dir: str) -> None:
    """Register every synthetic table present in ``sf_dir`` as a DuckDB
    view — shared with scripts/bench_duck.py."""
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.is_dir():  # Spark-written multi-file layout
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def registry_hash() -> str:
    """``<names> <oracles>``: the first 16 hex digits of sha256 over the
    registry's entry names in order, then over its sorted (name, oracle
    SQL) pairs. Renaming, reordering or adding an entry moves the first
    half; any change to a twin's SQL text moves the second."""
    names = json.dumps(list(entrymod.queries()))
    oracles = json.dumps(sorted(entrymod.oracle_sql().items()))
    return " ".join(hashlib.sha256(s.encode()).hexdigest()[:16] for s in (names, oracles))


def normalize(v) -> str:
    """Exact, dtype-sensitive stringification. NO float rounding: the
    driver hashes raw value strings, so "11680.0" != "11680" and
    last-bit double drift must fail here too."""
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if isinstance(v, np.generic):
        v = v.item()
        if isinstance(v, float) and math.isnan(v):
            return "NULL"
        return str(v)
    if v is pd.NaT:
        return "NULL"
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ", ".join(normalize(x) for x in v) + "]"
    return str(v)


def container_cols(pdf: pd.DataFrame) -> list[str]:
    """Columns holding ANY list/tuple/ndarray cell — schemas the
    driver's canonicalizer cannot hash (pandas ``sort_values`` →
    ``factorize`` → ``TypeError: unhashable type: 'list'``). Scans every
    cell: a container column can lead with NULLs."""
    return [
        c
        for c in pdf.columns
        if any(isinstance(v, (list, tuple, np.ndarray)) for v in pdf[c])
    ]


def frame_rows(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    """Rows sorted canonically, columns sorted by name, values
    normalized dtype-sensitively (driver-faithful, see module doc)."""
    cols = sorted(pdf.columns)
    out = []
    for row in pdf[cols].itertuples(index=False, name=None):
        out.append(tuple(normalize(v) for v in row))
    out.sort()
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # VANILLA session, like the driver's: queries() must not depend on the
    # engine's own session factory confs (that was round 1's 9-query bug).
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("compare-oracle")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    con = duckdb.connect()
    create_views(con, sf_dir)

    qs = entrymod.queries()
    if only:
        missing = [n for n in only if n not in qs]
        if missing:
            sys.exit(f"unknown entry name(s): {missing}")
        qs = {n: qs[n] for n in qs if n in only}
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            s_pdf = df.toPandas()
            bad = container_cols(s_pdf)
            if bad:
                failures.append(name)
                print(
                    f"✗ {name:28s} LIST-TYPED column(s) {bad}: the driver "
                    "canonicalizer cannot hash containers — serialize as "
                    "6-dp comma-joined strings (q_embedding_project convention)"
                )
                continue
            spark_cols = sorted(s_pdf.columns)
            s_rows = frame_rows(s_pdf)
            if name not in oracles:
                print(f"  {name:28s} rows-only: {len(s_rows)} rows, cols={spark_cols}")
                continue
            d_pdf = con.execute(oracles[name]).fetchdf()
            bad = container_cols(d_pdf)
            if bad:
                failures.append(name)
                print(f"✗ {name:28s} LIST-TYPED oracle column(s) {bad}: non-canonicalizable")
                continue
            duck_cols = sorted(d_pdf.columns)
            d_rows = frame_rows(d_pdf)
            status = []
            if spark_cols != duck_cols:
                status.append(f"COLS spark={spark_cols} duck={duck_cols}")
            if len(s_rows) != len(d_rows):
                status.append(f"COUNT spark={len(s_rows)} duck={len(d_rows)}")
            elif spark_cols == duck_cols and s_rows != d_rows:
                bad = next((i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b)
                status.append(f"VALUES first-diff@row{bad[0]}: spark={bad[1]} duck={bad[2]}")
            if status:
                failures.append(name)
                print(f"✗ {name:28s} {'; '.join(status)}")
            else:
                print(f"✓ {name:28s} {len(s_rows)} rows")
        except Exception as e:
            failures.append(name)
            print(f"✗ {name:28s} ERROR {type(e).__name__}: {str(e).splitlines()[0][:160]}")
            if os.environ.get("VERBOSE"):
                traceback.print_exc()
    print(f"\n{len(qs) - len(failures)}/{len(qs)} OK; failures: {failures}")
    print(f"registry {registry_hash()}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
