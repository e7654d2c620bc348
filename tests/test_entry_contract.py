"""Driver-contract smoke: __spark_entry__ must ALWAYS import and expose
a complete registry. Round 3 shipped a NameError in build_registry() that
zeroed every driver verdict; this file makes that class of bug a loud,
cheap test failure instead of a silent round-killer.

No Spark session needed — these tests exercise import surface and oracle
SQL syntax only, so they run in <2s.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import pytest

SF_DIR = Path("/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _entry():
    import __spark_entry__ as entrymod

    return entrymod


def test_entry_module_imports():
    e = _entry()
    assert callable(e.entry)
    assert callable(e.queries)
    assert callable(e.oracle_sql)


def test_queries_complete_and_callable():
    e = _entry()
    qs = e.queries()
    assert len(qs) >= 63, f"queries() shrank to {len(qs)} entries"
    for name, fn in qs.items():
        assert callable(fn), f"{name} is not callable"


def test_every_q_builder_is_a_registry_entry():
    """Every module-level ``q_*`` builder in queries.py is named in
    ``build_registry``, so an unregistered second face of an operator
    (one only tests call) cannot come back unnoticed. Spark-free: an
    AST scan of the source, nothing is imported."""
    import ast

    tree = ast.parse((Path(__file__).resolve().parent.parent / "rustic_witcher_spark" / "queries.py").read_text())
    defs = [n for n in tree.body if isinstance(n, ast.FunctionDef)]
    (registry,) = [n for n in defs if n.name == "build_registry"]
    named = {n.id for n in ast.walk(registry) if isinstance(n, ast.Name)}
    builders = [n.name for n in defs if n.name.startswith("q_")]
    assert len(builders) >= 63
    assert [b for b in builders if b not in named] == []


def test_oracle_keys_subset_of_queries():
    e = _entry()
    qs, oracles = e.queries(), e.oracle_sql()
    extra = set(oracles) - set(qs)
    assert not extra, f"oracle_sql() keys missing from queries(): {sorted(extra)}"
    assert all(isinstance(s, str) and s.strip() for s in oracles.values())


@pytest.mark.skipif(not SF_DIR.exists(), reason="testdata missing")
def test_every_oracle_sql_parses_in_duckdb():
    """EXPLAIN every oracle against sf0.001 views — catches SQL typos and
    ghost column references without paying for execution."""
    e = _entry()
    con = duckdb.connect()
    for t in TABLES:
        p = SF_DIR / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = []
    for name, sql in e.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as exc:  # noqa: BLE001
            bad.append(f"{name}: {exc}")
    assert not bad, "oracle SQL failed to plan:\n" + "\n".join(bad)


# The driver's correctness gate grades a 50-entry PREFIX, and the
# prefix is an explicit list (DRIVER_WINDOW) leading with the entries
# whose latest driver verdict is oldest. This test pins the prefix so an
# accidental reorder (the round-3 failure mode) fails loudly here
# instead of silently rotating verdict coverage.


def test_registry_prefix_matches_rotation_plan():
    import __spark_entry__ as entrymod
    from rustic_witcher_spark.queries import DRIVER_WINDOW

    names = list(entrymod.queries())
    assert len(DRIVER_WINDOW) == 50
    assert names[: len(DRIVER_WINDOW)] == DRIVER_WINDOW, (
        "registry prefix diverged from DRIVER_WINDOW — the driver gate "
        "grades a 50-entry prefix; see build_registry() docstring"
    )
    assert len(names) == len(set(names))
    # r12 window composition: the nine r12 additions lead, then the
    # eight r08-aged entries the r11 additions displaced — the oldest
    # verdicts after r11 — which must ALL be in the window
    assert DRIVER_WINDOW[:9] == [
        "attribution_incremental", "drift_incremental", "histogram_incremental",
        "k_anonymity_lattice", "join_skew_probe",
        "basket_rules", "fd_audit",
        "ab_test_summary", "value_trend_ols",
    ]
    r08_aged_displaced = {
        "skew_salted_stats", "doc_length_deciles", "value_percentiles",
        "token_count_bpe", "vocab_top_terms", "langid_confusion",
        "tfidf_top_terms", "doc_quality",
    }
    assert r08_aged_displaced <= set(DRIVER_WINDOW)
