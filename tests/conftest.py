from __future__ import annotations

import os
from pathlib import Path

import duckdb
import pytest

from rustic_witcher_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small & fast for unit tests
    s = get_spark("rustic_witcher_spark-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = Path(SF_DIR) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# Entries that must NOT run concurrently with each other: the
# persisted-index family builds into a shared content-keyed cache dir
# (a concurrent build of the same dir races the parquet commit).
# Everything else is safe to overlap: the streaming gate entries'
# shuffle-partition pin is refcounted (queries._pinned_shuffle_
# partitions — same-valued pins share, different-valued pins wait),
# memory-sink names are unique per entry, every entry's scratch space
# is its own mkdtemp parent (queries._fresh_workdir's per-entry tag),
# and shuffle-partition count never changes results (pinned by the
# partition-invariance tests).
SWEEP_SERIAL_SUFFIXES = ()
SWEEP_SERIAL_NAMES = {
    "pq_index_query", "pq_rerank_query", "pq_residual_query",
}


def sweep_entries(named_thunks, max_workers=4):
    """Run (name, thunk) pairs with driver-side job overlap — the
    guide-§2.6 pattern (Spark happily runs several jobs at once in one
    application; the registry sweeps were serializing ~190 tiny jobs
    behind each other's scheduling floors, which dominated the suite's
    wall-clock). Entries in the serial set above run sequentially
    afterwards. Returns {name: (value, exception_or_None)} — same
    attributability as the old sequential loops."""
    from concurrent.futures import ThreadPoolExecutor

    serial, par = [], []
    for name, thunk in named_thunks:
        bucket = (
            serial
            if name in SWEEP_SERIAL_NAMES or name.endswith(SWEEP_SERIAL_SUFFIXES)
            else par
        )
        bucket.append((name, thunk))

    def run(item):
        name, thunk = item
        try:
            return name, thunk(), None
        except Exception as exc:  # noqa: BLE001 — reported per entry by the caller
            return name, None, exc

    results = {}
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        for name, val, exc in pool.map(run, par):
            results[name] = (val, exc)
    for item in serial:
        name, val, exc = run(item)
        results[name] = (val, exc)
    return results


def spark_rows(df, sort_cols=None):
    """Collect a Spark DataFrame to a sorted list of plain tuples."""
    rows = [tuple(r) for r in df.collect()]
    return sorted(rows, key=lambda t: tuple(str(x) for x in t))


def duck_rows(con, sql):
    rows = [tuple(r) for r in con.execute(sql).fetchall()]
    return sorted(rows, key=lambda t: tuple(str(x) for x in t))


def assert_same(spark_df, con, sql, approx_cols=()):
    """Order-insensitive equality of a Spark result vs a DuckDB query."""
    s = spark_rows(spark_df)
    d = duck_rows(con, sql)
    assert len(s) == len(d), f"row count: spark={len(s)} duckdb={len(d)}"
    for sr, dr in zip(s, d):
        assert len(sr) == len(dr), f"arity: {sr} vs {dr}"
        for i, (sv, dv) in enumerate(zip(sr, dr)):
            if isinstance(sv, float) and isinstance(dv, float):
                assert abs(sv - dv) < 1e-6, f"col {i}: {sv} != {dv} in {sr} vs {dr}"
            else:
                assert str(sv) == str(dv), f"col {i}: {sv!r} != {dv!r} in {sr} vs {dr}"
