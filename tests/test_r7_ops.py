"""Round-7 additions: NULL-bearing-data oracle parity for the two
window entries ADVICE.md flagged (events_moving_avg, peak_concurrency),
and self-tests for the rewritten hash-faithful local gate
(scripts/compare_oracle.py) — the gate must be dtype-sensitive enough
to catch the HUGEINT→float64 class of bug that shipped q12 red in
rounds 5 and 6 (and q11 until the r7 gate caught it locally)."""

from __future__ import annotations

import importlib.util
from datetime import datetime
from pathlib import Path

import duckdb
import pandas as pd
import pytest

REPO = Path(__file__).resolve().parent.parent

_spec = importlib.util.spec_from_file_location("compare_oracle", REPO / "scripts" / "compare_oracle.py")
compare_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_spec and compare_oracle)

frame_rows = compare_oracle.frame_rows
normalize = compare_oracle.normalize


# ---------------------------------------------------------------------------
# gate self-tests
# ---------------------------------------------------------------------------


def test_gate_catches_int_vs_float_dtype():
    """The q12/q11 bug class: same values, int64 on one side, float64 on
    the other (DuckDB HUGEINT via fetchdf). The old gate normalized
    through fetchall + str and passed it; the faithful gate must fail."""
    a = pd.DataFrame({"k": ["x", "y"], "n": pd.array([11680, 12129], dtype="int64")})
    b = pd.DataFrame({"k": ["x", "y"], "n": pd.array([11680.0, 12129.0], dtype="float64")})
    assert frame_rows(a) != frame_rows(b)
    assert frame_rows(a) == [("x", "11680"), ("y", "12129")]
    assert frame_rows(b) == [("x", "11680.0"), ("y", "12129.0")]


def test_gate_is_row_order_insensitive():
    """The driver hash is order-insensitive (rows canonically sorted):
    many driver-green entries return different row orders across
    engines, so the gate must not fail on order alone."""
    a = pd.DataFrame({"k": ["x", "y"], "n": [1, 2]})
    b = pd.DataFrame({"k": ["y", "x"], "n": [2, 1]})
    assert frame_rows(a) == frame_rows(b)


def test_gate_normalize_nulls_and_arrays():
    import numpy as np

    assert normalize(None) == "NULL"
    assert normalize(float("nan")) == "NULL"
    assert normalize(np.float64("nan")) == "NULL"
    assert normalize(np.int64(5)) == "5"
    assert normalize(np.array([1, 2])) == normalize([1, 2])
    # dtype sensitivity reaches inside containers too
    assert normalize([1, 2]) != normalize([1.0, 2.0])


# ---------------------------------------------------------------------------
# NULL-bearing events: spark == oracle (not just no-crash)
# ---------------------------------------------------------------------------

EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


@pytest.fixture(scope="module")
def dirty_events_dir(spark, tmp_path_factory):
    """Small events table with NULL ts and NULL event_type rows mixed
    in — the case where Spark's NULLS FIRST vs DuckDB's NULLS LAST
    window ordering silently diverges unless entries guard NULLs."""
    rows = []
    t0 = datetime(2024, 1, 1)
    for i in range(200):
        ts = None if i % 17 == 0 else t0.replace(hour=i % 24, minute=(i * 7) % 60)
        et = None if i % 13 == 0 else ("click", "view", "purchase")[i % 3]
        rows.append((i, ts, i % 9, et, float(i % 50) / 3.0))
    d = tmp_path_factory.mktemp("dirty_events")
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(str(d / "events.parquet"))
    return str(d)


# ---------------------------------------------------------------------------
# round-7 operators: semantic unit tests (the local gate checks oracle
# parity at sf0.01; these pin the MEANING on handcrafted fixtures)
# ---------------------------------------------------------------------------


def test_triangle_stats_known_graph(spark):
    """Triangle (1,2,3) plus dangling edge (3,4): 1 triangle, degrees
    2/2/3/1 → 5 wedges → clustering coefficient 3·1/5 = 0.6."""
    from rustic_witcher_spark.operators import graph

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (2, 1), (3, 3)], "a int, b int"  # reversed dup + self-loop
    )
    edges = graph.undirected_edges(pairs, "a", "b")
    assert edges.count() == 4  # dedup'd, self-loop dropped
    row = graph.triangle_stats(edges).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 4, 1)
    assert row["clustering_coeff"] == pytest.approx(0.6)


def test_triangle_orientation_is_acyclic_dag(spark):
    """Degree orientation must produce each triangle exactly once even
    on the complete graph K4 (4 triangles, all degrees equal — falls
    back to id order)."""
    from rustic_witcher_spark.operators import graph

    nodes = [1, 2, 3, 4]
    pairs = spark.createDataFrame(
        [(a, b) for a in nodes for b in nodes if a < b], "a int, b int"
    )
    edges = graph.undirected_edges(pairs, "a", "b")
    row = graph.triangle_stats(edges).collect()[0]
    assert row["n_triangles"] == 4
    assert row["n_edges"] == 6


def test_pareto_suppliers_tie_semantics(spark, tmp_path):
    """Skyline with ties: equal-revenue worse point dominated; exact
    duplicate frontier points BOTH survive; strictly-dominated interior
    point dropped."""
    from rustic_witcher_spark.queries import q_pareto_suppliers

    rows = []
    # (suppkey, parts with prices) → revenue = Σ price, n_parts = count
    spec = {
        1: [(101, 50.0), (102, 30.0), (103, 20.0)],  # rev 100, parts 3 — frontier
        2: [(101, 60.0), (102, 40.0)],               # rev 100, parts 2 — dominated (tie rev, fewer parts)
        3: [(104, 40.0), (105, 30.0), (106, 20.0)],  # rev  90, parts 3 — dominated by s1/s5
        4: [(107, 120.0)],                           # rev 120, parts 1 — frontier
        5: [(110, 40.0), (111, 40.0), (112, 20.0)],  # rev 100, parts 3 — duplicate of s1, survives
        6: [(120, 20.0), (121, 20.0), (122, 20.0), (123, 20.0)],  # rev 80, parts 4 — frontier
    }
    for sk, parts in spec.items():
        for pk, price in parts:
            rows.append((sk, pk, price, 0.0))
    spark.createDataFrame(
        rows, "l_suppkey int, l_partkey int, l_extendedprice double, l_discount double"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    out = [(r["s_suppkey"], r["revenue"], r["n_parts"]) for r in q_pareto_suppliers(spark, str(tmp_path)).collect()]
    assert out == [(4, 120.0, 1), (1, 100.0, 3), (5, 100.0, 3), (6, 80.0, 4)]


def test_bpe_merge_step_counts(spark, tmp_path):
    from rustic_witcher_spark.queries import q_bpe_merge_step

    docs = [(1, "abab abab", "en", "web", 9), (2, "abab", "en", "web", 4)]
    spark.createDataFrame(
        docs, "doc_id int, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r["pair"]: r["n"] for r in q_bpe_merge_step(spark, str(tmp_path)).collect()}
    # vocabulary: {"abab": 3} → per word pairs [ab, ba, ab] → ab: 2·3, ba: 1·3
    assert out == {"ab": 6, "ba": 3}


def test_mixture_temperature_weights(spark, tmp_path):
    from rustic_witcher_spark.queries import MIX_BUDGET, q_mixture_temperature

    # two sources with IDENTICAL token mass → exact 0.5/0.5 split at any τ
    docs = [(1, "w1 w2 w3 w4", "en", "alpha", 11), (2, "x1 x2 x3 x4", "en", "beta", 11)]
    spark.createDataFrame(
        docs, "doc_id int, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r["source"]: r for r in q_mixture_temperature(spark, str(tmp_path)).collect()}
    assert out["alpha"]["weight"] == pytest.approx(0.5)
    assert out["alpha"]["alloc_docs"] + out["beta"]["alloc_docs"] == MIX_BUDGET
    assert out["alpha"]["n_tokens"] == 4


def test_benford_profile_digits(spark, tmp_path):
    from rustic_witcher_spark.queries import q_benford_profile

    prices = [111.0, 19.9, 222.2, 1000.00, 0.0, -5.0]  # zero/negative excluded
    spark.createDataFrame([(p,) for p in prices], "l_extendedprice double").write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    out = {r["digit"]: r for r in q_benford_profile(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n"] == 3  # 111.0, 19.9, 1000.00
    assert out[1]["observed"] == pytest.approx(0.75)
    assert out[1]["expected"] == pytest.approx(0.30103, abs=1e-5)


def test_weighted_reservoir_deterministic_and_weight_biased(spark, tmp_path):
    from rustic_witcher_spark.queries import q_weighted_reservoir

    # 200 light docs (10 chars) + 200 heavy docs (10_000 chars):
    # inclusion odds scale with weight, so the top-100 must be mostly heavy
    docs = [(i, "t", "en", "web", 10) for i in range(200)]
    docs += [(200 + i, "t", "en", "web", 10_000) for i in range(200)]
    spark.createDataFrame(
        docs, "doc_id int, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out1 = q_weighted_reservoir(spark, str(tmp_path)).collect()
    out2 = q_weighted_reservoir(spark, str(tmp_path)).collect()
    assert out1 == out2  # md5-derived, fully deterministic
    assert len(out1) == 100
    heavy = sum(1 for r in out1 if r["weight"] == 10_000)
    assert heavy > 80  # weight-1000x bias: expected ~97 heavy (binomial tail)
    assert all(r["priority"] > 0 for r in out1)


def test_ewma_constant_series_is_identity(spark, tmp_path):
    from rustic_witcher_spark.queries import q_ewma_events

    t0 = datetime(2024, 1, 1)
    rows = [(i, t0.replace(hour=i), 1, "click", 5.0) for i in range(24)]
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(str(tmp_path / "events.parquet"))
    out = q_ewma_events(spark, str(tmp_path)).collect()
    assert len(out) == 24
    # constant input → EWMA equals the constant at every point,
    # including the ramp-up rows (renormalized truncated kernel)
    assert all(r["ewma"] == pytest.approx(5.0) for r in out)


def test_dsir_scores_target_like_docs_higher(spark, tmp_path):
    from rustic_witcher_spark.queries import q_dsir_selection

    # target (en) vocabulary: "hello world"; pool noise: "bonjour monde"
    docs = [(i, "hello world", "en", "web", 11) for i in range(20)]
    docs += [(100 + i, "bonjour monde", "fr", "web", 13) for i in range(20)]
    docs += [(900, "hello world", "xx", "web", 11), (901, "bonjour monde", "yy", "web", 13)]
    spark.createDataFrame(
        docs, "doc_id int, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r["dsir_score"] for r in q_dsir_selection(spark, str(tmp_path)).collect()}
    # the en-like candidate must outscore the fr-like candidate
    assert out[900] > out[901]


def test_source_overlap_jaccard(spark, tmp_path):
    from rustic_witcher_spark.queries import q_source_overlap

    # web grams: {abc, bcd}; books grams: {abc, bcx} → 1 shared, J=1/3
    docs = [
        (1, "a b c d", "en", "web", 7),
        (2, "a b c x", "en", "books", 7),
    ]
    spark.createDataFrame(
        docs, "doc_id int, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = q_source_overlap(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source_a"], r["source_b"], r["n_shared"]) == ("books", "web", 1)
    assert r["jaccard"] == pytest.approx(1 / 3, abs=1e-6)


def test_events_mad_outliers_flags_spike_not_baseline(spark, tmp_path):
    from rustic_witcher_spark.queries import q_events_mad_outliers

    t0 = datetime(2024, 1, 1)
    rows, eid = [], 0
    # hourly counts 1,2,3,4 then a 100-event spike at hour 4:
    # med=3, MAD=1 → spike z = 0.6745·97 = 65.4265, baseline |z| ≤ 1.35
    for h, n in enumerate([1, 2, 3, 4, 100]):
        for _ in range(n):
            rows.append((eid, t0.replace(hour=h), 1, "click", 1.0))
            eid += 1
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(str(tmp_path / "events.parquet"))
    out = q_events_mad_outliers(spark, str(tmp_path)).collect()
    top = out[0]
    assert top["hour"] == "2024-01-01 04:00:00" and top["n"] == 100
    assert top["mad_z"] == pytest.approx(0.6745 * 97, abs=1e-6)
    # the robust score keeps the baseline tiny even though the spike
    # drags the MEAN to 22 (a mean/σ score would flag nothing at 3.5σ)
    assert all(abs(r["mad_z"]) < 2 for r in out[1:])


def test_events_mad_outliers_constant_series_silent(spark, tmp_path):
    """MAD = 0 (constant series) must yield no rows, not a div-by-zero."""
    from rustic_witcher_spark.queries import q_events_mad_outliers

    t0 = datetime(2024, 1, 1)
    rows = [(i, t0.replace(hour=i % 5), 1, "click", 1.0) for i in range(25)]
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(str(tmp_path / "events.parquet"))
    assert q_events_mad_outliers(spark, str(tmp_path)).count() == 0


@pytest.mark.parametrize("name", ["events_moving_avg", "peak_concurrency", "rolling_distinct_users"])
def test_window_entries_null_parity(spark, dirty_events_dir, name):
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    s_pdf = fn(spark, dirty_events_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{dirty_events_dir}/events.parquet/*.parquet')"
    )
    d_pdf = con.execute(sql).fetchdf()
    assert sorted(s_pdf.columns) == sorted(d_pdf.columns)
    assert frame_rows(s_pdf) == frame_rows(d_pdf)
    assert len(s_pdf) > 0


def test_interval_coverage_merges_overlaps(spark, tmp_path):
    from datetime import timedelta

    from rustic_witcher_spark.queries import q_interval_coverage

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, t0, 1, "click", 1.0),                            # [10:00, 10:30)
        (2, t0 + timedelta(minutes=10), 2, "click", 1.0),    # [10:10, 10:40) — overlaps
        (3, t0 + timedelta(hours=2), 3, "click", 1.0),       # disjoint [12:00, 12:30)
    ]
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(str(tmp_path / "events.parquet"))
    out = q_interval_coverage(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    # union = 40 min (merged) + 30 min (disjoint) = 70 min
    assert r["covered_us"] == 70 * 60 * 1_000_000
    assert r["n_intervals"] == 3


def test_funnel_3step_stage_semantics(spark, tmp_path):
    from datetime import timedelta

    from rustic_witcher_spark.queries import q_funnel_3step

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        # u1: full funnel inside the windows
        (1, t0, 1, "view", 1.0),
        (2, t0 + timedelta(minutes=10), 1, "click", 1.0),
        (3, t0 + timedelta(minutes=20), 1, "purchase", 1.0),
        # u2: click arrives 2h after view — outside the 1h window
        (4, t0, 2, "view", 1.0),
        (5, t0 + timedelta(hours=2), 2, "click", 1.0),
        # u3: reaches click, purchase too late
        (6, t0, 3, "view", 1.0),
        (7, t0 + timedelta(minutes=30), 3, "click", 1.0),
        (8, t0 + timedelta(hours=3), 3, "purchase", 1.0),
        # u4: purchase BEFORE click — strict order must not count it
        (9, t0, 4, "view", 1.0),
        (10, t0 + timedelta(minutes=5), 4, "purchase", 1.0),
        (11, t0 + timedelta(minutes=10), 4, "click", 1.0),
    ]
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(str(tmp_path / "events.parquet"))
    r = q_funnel_3step(spark, str(tmp_path)).collect()[0]
    assert (r["n_view"], r["n_click"], r["n_purchase"]) == (4, 3, 1)
    assert r["view_to_click"] == pytest.approx(0.75)


# ---------------------------------------------------------------------------
# degenerate-input regressions (round-7 review): Spark 4's ANSI default
# turns x/0 into a job-killing SparkArithmeticException, while every
# DuckDB oracle yields NULL — these pin the try_divide / digit-screen
# guards so a dirty corpus degrades to NULLs identically in both engines.
# ---------------------------------------------------------------------------


def test_funnel_3step_empty_stage_yields_null_ratios(spark, tmp_path):
    from datetime import timedelta

    from rustic_witcher_spark.queries import q_funnel_3step

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    # clicks + purchases but NO views: n_view = 0 → both ratios NULL
    rows = [
        (1, t0, 1, "click", 1.0),
        (2, t0 + timedelta(minutes=5), 1, "purchase", 1.0),
    ]
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(str(tmp_path / "events.parquet"))
    r = q_funnel_3step(spark, str(tmp_path)).collect()[0]
    assert (r["n_view"], r["n_click"], r["n_purchase"]) == (0, 0, 0)
    assert r["view_to_click"] is None and r["click_to_purchase"] is None


def test_ewma_all_null_hour_yields_null_not_crash(spark, tmp_path):
    from datetime import timedelta

    from rustic_witcher_spark.queries import q_ewma_events

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 1, "click", None),                      # hour 0: value all-NULL
        (2, t0 + timedelta(hours=1), 1, "click", 5.0),  # hour 1: real value
    ]
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(str(tmp_path / "events.parquet"))
    out = {r["hour"]: r for r in q_ewma_events(spark, str(tmp_path)).collect()}
    assert len(out) == 2
    h0 = min(out)
    assert out[h0]["ewma"] is None          # den folds to 0 → NULL, no ANSI raise
    assert out[max(out)]["ewma"] == pytest.approx(5.0)


def test_benford_subcent_prices_screened(spark, tmp_path):
    from rustic_witcher_spark.queries import q_benford_profile

    # 0.004 rounds to 0 cents → digit 0 → would divide by zero in the
    # Benford expectation; must be screened out, not crash or emit a row
    prices = [0.004, 111.0]
    spark.createDataFrame([(p,) for p in prices], "l_extendedprice double").write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    out = {r["digit"]: r for r in q_benford_profile(spark, str(tmp_path)).collect()}
    assert set(out) == {1}
    assert out[1]["observed"] == pytest.approx(1.0)


def test_mixture_temperature_zero_token_corpus(spark, tmp_path):
    from rustic_witcher_spark.queries import q_mixture_temperature

    # every doc empty → n_tokens = 0 per source → tw_total = 0 → NULL weights
    docs = [(1, "", "en", "alpha", 0), (2, "", "en", "beta", 0)]
    spark.createDataFrame(
        docs, "doc_id int, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = q_mixture_temperature(spark, str(tmp_path)).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["weight"] is None and r["alloc_docs"] is None


# ---------------------------------------------------------------------------
# round-7 late additions: meaning pins on handcrafted fixtures
# (engine-vs-oracle parity at sf0.01 is the driver gate's job)
# ---------------------------------------------------------------------------

EMB_SCHEMA = "vec_id long, embedding array<float>, label int"
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_hard_negatives_skips_same_label(spark, tmp_path):
    from rustic_witcher_spark.queries import q_hard_negatives

    rows = [
        (0, [1.0, 0.0], 1),     # query
        (1, [0.99, 0.14], 1),   # most similar — but SAME label, must be skipped
        (2, [0.9, 0.44], 2),    # the hard negative
        (3, [0.0, 1.0], 3),     # dissimilar other-label
    ]
    spark.createDataFrame(rows, EMB_SCHEMA).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = {r["query_id"]: r for r in q_hard_negatives(spark, str(tmp_path)).collect()}
    assert out[0]["neighbor_id"] == 2 and out[0]["neighbor_label"] == 2
    # vec 1's own hard negative is vec 2 as well (closest other-label)
    assert out[1]["neighbor_id"] == 2


def test_hard_negatives_tie_breaks_to_smallest_id(spark, tmp_path):
    from rustic_witcher_spark.queries import q_hard_negatives

    rows = [
        (0, [1.0, 0.0], 1),
        (5, [0.6, 0.8], 2),   # identical vector to 7 → identical sim
        (7, [0.6, 0.8], 2),
    ]
    spark.createDataFrame(rows, EMB_SCHEMA).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = {r["query_id"]: r for r in q_hard_negatives(spark, str(tmp_path)).collect()}
    assert out[0]["neighbor_id"] == 5  # smallest id wins the tie


def test_bm25_rare_term_outranks_common(spark, tmp_path):
    from rustic_witcher_spark.queries import q_bm25_search

    docs = [
        # 'dup' is rare (1 doc) → high idf; 'spark' common (all docs)
        (1, "dup spark table", "en", "web", 15),
        (2, "spark table join table", "en", "web", 22),
        (3, "spark table row column", "en", "web", 22),
        (4, "value key line sort", "en", "web", 19),  # no query term → excluded
    ]
    spark.createDataFrame(docs, DOC_SCHEMA).write.parquet(str(tmp_path / "documents.parquet"))
    out = q_bm25_search(spark, str(tmp_path)).collect()
    ids = [r["doc_id"] for r in out]
    assert 4 not in ids                       # zero-match doc never scored
    assert ids[0] == 1                        # rare-term doc ranks first
    assert out[0]["tf_dup"] == 1 and out[0]["score"] > out[1]["score"]


def test_leakage_safe_split_conserves_and_isolates(spark, tmp_path):
    from pyspark.sql import functions as F

    from rustic_witcher_spark.functions.hashing import hash64
    from rustic_witcher_spark.queries import SEED, SPLIT_BUCKETS, q_leakage_safe_split

    docs = [(i, f"w{i} w{(i * 7) % 13}", "en", f"src{i % 17}", 5) for i in range(200)]
    spark.createDataFrame(docs, DOC_SCHEMA).write.parquet(str(tmp_path / "documents.parquet"))
    out = q_leakage_safe_split(spark, str(tmp_path)).collect()
    # conservation: every doc and every source lands in exactly one split
    assert sum(r["n_docs"] for r in out) == 200
    assert sum(r["n_sources"] for r in out) == 17
    # leakage-safety is by construction (split = f(source)); pin it by
    # recomputing the assignment per source and checking disjointness
    src_split = (
        spark.read.parquet(str(tmp_path / "documents.parquet"))
        .select("source")
        .distinct()
        .withColumn("b", F.pmod(hash64(F.col("source"), SEED, "split"), F.lit(SPLIT_BUCKETS)))
        .collect()
    )
    per_split = {}
    for r in src_split:
        split = "train" if r["b"] < 8 else ("val" if r["b"] == 8 else "test")
        per_split.setdefault(split, set()).add(r["source"])
    sets = list(per_split.values())
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            assert not (sets[i] & sets[j])


def test_source_kl_zero_for_identical_distributions(spark, tmp_path):
    from rustic_witcher_spark.queries import q_source_kl_divergence

    # two sources with the SAME token distribution → KL ≈ 0 for both;
    # a third source with a skewed mix → strictly positive
    docs = [
        (1, "a b c d", "en", "s1", 7),
        (2, "a b c d", "en", "s2", 7),
        (3, "z z z z", "en", "s3", 7),
    ]
    spark.createDataFrame(docs, DOC_SCHEMA).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r["source"]: r for r in q_source_kl_divergence(spark, str(tmp_path)).collect()}
    # s1/s2 share p(t) = 1/4 over {a,b,c,d}; global has z too, so their
    # KL is positive but equal; s3 concentrates on the globally-rare z
    assert out["s1"]["kl_nanonats"] == out["s2"]["kl_nanonats"]
    assert out["s3"]["kl_nanonats"] > out["s1"]["kl_nanonats"] > 0
    assert out["s1"]["n_terms"] == 4 and out["s3"]["n_terms"] == 1


def test_source_kl_single_source_is_exactly_zero(spark, tmp_path):
    from rustic_witcher_spark.queries import q_source_kl_divergence

    docs = [(1, "a b b c", "en", "only", 7), (2, "c a", "en", "only", 3)]
    spark.createDataFrame(docs, DOC_SCHEMA).write.parquet(str(tmp_path / "documents.parquet"))
    out = q_source_kl_divergence(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["kl_nanonats"] == 0  # p_s == p_global → every ln term is ln(1)


# ------------------------------------------------------ plan-shape claims

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, fn):
    return fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def test_hard_negatives_registered_plan_is_block_kernel(spark):
    """r8: the REGISTERED entry runs the vectorized mapInPandas kernel
    (one candidate row per query per batch, map-side partial max) —
    never a cross join, a window, or a row-at-a-time Python UDF."""
    from rustic_witcher_spark.queries import q_hard_negatives

    plan = _plan(spark, q_hard_negatives)
    assert "MapInPandas" in plan
    assert "partial_max" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_plan_takeordered_single_tokenize_filter(spark):
    from rustic_witcher_spark.queries import q_bm25_search

    plan = _plan(spark, q_bm25_search)
    # global top-k must be TakeOrdered (partial per-partition top-k),
    # not a sort of the full scored set into one partition
    assert "TakeOrderedAndProject" in plan
    # the qualifying predicate is one arrays_overlap, not 3 HOF counts:
    # exactly one tokenizer (split) per filter evaluation site
    assert "arrays_overlap" in plan


def test_leakage_split_plan_reduces_rows_before_hashing(spark):
    from rustic_witcher_spark.queries import q_leakage_safe_split

    plan = _plan(spark, q_leakage_safe_split)
    # rows aggregate to source grain first (partial_count at the scan),
    # and the md5 split hash never appears below the first exchange —
    # only |sources| hashes are ever computed
    scan_section = plan.split("Exchange hashpartitioning")[-1]
    assert "md5" not in scan_section
    assert plan.count("Scan parquet") == 1


def test_source_kl_plan_single_explode_subtree(spark):
    from rustic_witcher_spark.queries import q_source_kl_divergence

    plan = _plan(spark, q_source_kl_divergence)
    # materialize() cuts the (source, term) lineage: term totals /
    # source totals / corpus total reuse it instead of re-deriving the
    # explode — exactly one Generate(explode) in the whole plan
    assert plan.count("Generate explode") <= 1


def test_hard_negative_block_kernel_matches_hof_entry(spark, duck, sf_dir):
    """The registered numpy mapInPandas kernel equals its DuckDB twin
    (``SQL_HARD_NEGATIVES``) row for row on real data: same ids,
    labels and 6-dp sims, in query_id order."""
    from rustic_witcher_spark.queries import HARDNEG_QUERIES, SQL_HARD_NEGATIVES, q_hard_negatives

    blk = [tuple(r) for r in q_hard_negatives(spark, sf_dir).collect()]
    assert blk == duck.execute(SQL_HARD_NEGATIVES).fetchall()
    assert len(blk) == HARDNEG_QUERIES


def test_hard_negative_block_kernel_skips_same_label(spark):
    from rustic_witcher_spark.operators.similarity import hard_negative_top1_block

    rows = [
        (0, [1.0, 0.0], 1),
        (1, [0.99, 0.14], 1),   # closest but same label
        (2, [0.9, 0.44], 2),
        (5, [0.6, 0.8], 3), (7, [0.6, 0.8], 3),  # tie → smallest id
    ]
    df = spark.createDataFrame(rows, EMB_SCHEMA)
    out = {r["query_id"]: r for r in hard_negative_top1_block(df, 1).collect()}
    assert out[0]["neighbor_id"] == 2
    out2 = {r["query_id"]: r for r in hard_negative_top1_block(df.filter("vec_id != 2"), 1).collect()}
    assert out2[0]["neighbor_id"] == 5  # tie-break to smallest id


def test_block_kernels_drop_degenerate_vectors(spark):
    """Dirty-data policy pin for every block face: NULL, zero-norm and
    NaN-component vectors are dropped at the kernel boundary — they
    never query, and in the raw-vector kernels they never win; an exact
    tie goes to the smaller neighbor id."""
    from pyspark.sql import functions as F

    from rustic_witcher_spark.operators import pq
    from rustic_witcher_spark.operators.similarity import exclusion_top1_block, hard_negative_top1_block

    base = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 1),            # the one live query
            (1, None, 2),                  # NULL vector
            (2, [0.0, 0.0], 2),            # zero vector: no direction
            (3, [float("nan"), 1.0], 2),   # NaN component
            (10, [-1.0, -0.1], 2),         # real (negative-sim) candidate
        ],
        EMB_SCHEMA,
    )
    tied = base.unionByName(spark.createDataFrame([(11, [0.6, 0.8], 3), (12, [0.6, 0.8], 3)], EMB_SCHEMA))
    clean = tied.filter("vec_id IN (0, 10, 11, 12)")
    cb = pq.pq_codebooks(clean, n_subspaces=2, n_codes=2, dim=2)

    def faces(corpus):
        """face -> (query_id, neighbor_id, sim) rows, queries = ids 0..3"""
        queries = corpus.filter("vec_id < 4")
        anchors = queries.select(
            F.col("vec_id").alias("anchor_id"),
            F.col("embedding").alias("__qv"),
            F.lit(None).cast("array<long>").alias("__ex"),
        )
        codes = pq.pq_encode(corpus, cb, n_subspaces=2, dim=2)
        frames = {
            "hard_negative_top1_block": hard_negative_top1_block(corpus, 4),
            "exclusion_top1_block": exclusion_top1_block(corpus, anchors).withColumnRenamed("anchor_id", "query_id"),
            "pq_adc_topk_block": pq.pq_adc_topk_block(codes, cb, queries, k=5, n_subspaces=2, dim=2),
            "pq_encode_adc_topk_block": pq.pq_encode_adc_topk_block(corpus, cb, queries, k=5, n_subspaces=2, dim=2),
        }
        return {
            name: [tuple(r) for r in df.orderBy("query_id", F.col("sim").desc(), "neighbor_id")
                   .select("query_id", "neighbor_id", "sim").collect()]
            for name, df in frames.items()
        }

    raw = ("hard_negative_top1_block", "exclusion_top1_block")
    for name, rows in faces(base).items():
        assert {q for q, _, _ in rows} == {0}, name  # degenerate queries emit nothing
        if name in raw:
            # the negative-sim candidate is the only one that may win
            assert [(n, s < 0) for _, n, s in rows] == [(10, True)], name
    for name, rows in faces(tied).items():
        assert {q for q, _, _ in rows} == {0}, name
        ranked = [n for _, n, _ in rows]
        if name in raw:
            assert ranked[0] == 11, name
        if name.endswith("_topk_block"):  # both tied rows ranked, smaller id first
            sims = {n: s for _, n, s in rows}
            assert sims[11] == sims[12] and ranked.index(11) < ranked.index(12), name
