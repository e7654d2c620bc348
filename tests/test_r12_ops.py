"""Round-12 additions: the last ungraded streaming behavior classes
under the driver gate — the watermarked stream-stream attribution join
(state + left-outer watermark eviction) and the two complete-mode
stateful aggregations (drift term counts, the mergeable histogram) run
as REAL Structured Streaming queries.

The load-bearing claims:
  * attribution_incremental's output SET equals the batch left-outer
    interval join regardless of where the median cut lands
    (batch-cut invariance — fuzzed over dirty event logs);
  * unmatched clicks are emitted exactly once, via watermark eviction,
    NULL-padded (the late-emission class no prior entry graded);
  * the complete-mode entries' final state equals the batch aggregate
    (additive counts are batch-order-invariant), through the SAME
    finalizer code as their batch twins.
"""

from __future__ import annotations

import datetime
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

T0 = datetime.datetime(2024, 1, 1)


def _write_events(spark, rows, d):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.mode("overwrite").parquet(d + "/events.parquet")


def _batch_attribution_expected(spark, d):
    """The semantics oracle: batch left-outer interval join through the
    same attribution_join builder + the entry's formatting."""
    from pyspark.sql import functions as F

    from rustic_witcher_spark.queries import _fmt
    from rustic_witcher_spark.sources.parquet import read_events
    from rustic_witcher_spark.streaming.joins import attribution_join

    ev = read_events(spark, d).filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    c = ev.filter(F.col("event_type") == "click").select("user_id", F.col("ts").alias("click_ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    return attribution_join(c, p, streaming=False, how="leftOuter").select(
        "user_id",
        _fmt(F.col("click_ts")).alias("click_at"),
        _fmt(F.col("purchase_ts")).alias("purchase_at"),
        "lag_seconds",
    )


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda t: tuple(str(x) for x in t)
    )


def test_attribution_incremental_matches_and_evicts(spark):
    """Semantics pin on a hand-built log: a click matched by TWO
    purchases yields two rows; a click whose only purchase is outside
    1h, and a click with no purchase at all, surface exactly once as
    NULL-padded evictions; a purchase with no click yields nothing."""
    from rustic_witcher_spark.queries import q_attribution_incremental

    h = datetime.timedelta
    rows = [
        (1, T0, 1, "click", 1.0, None),
        (2, T0 + h(minutes=10), 1, "purchase", 1.0, None),
        (3, T0 + h(minutes=50), 1, "purchase", 1.0, None),
        (4, T0, 2, "click", 1.0, None),          # purchase 2h later: no match
        (5, T0 + h(hours=2), 2, "purchase", 1.0, None),
        (6, T0 + h(hours=3), 3, "click", 1.0, None),   # never converts
        (7, T0, 4, "purchase", 1.0, None),        # purchase with no click
    ]
    d = tempfile.mkdtemp()
    _write_events(spark, rows, d)
    got = [
        (r["user_id"], r["purchase_at"] is not None, r["lag_seconds"])
        for r in q_attribution_incremental(spark, d).collect()
    ]
    assert got == [
        (1, True, 600),
        (1, True, 3000),
        (2, False, None),
        (3, False, None),
    ]


@given(
    data=st.lists(
        st.tuples(
            st.sampled_from([None, 0, 1, 2, 3]),                 # user_id
            st.sampled_from(["click", "purchase", "view"]),      # event_type
            st.one_of(st.none(), st.integers(0, 360)),           # ts offset (minutes)
        ),
        min_size=0,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_attribution_incremental_batch_cut_invariance_fuzz(spark, data):
    """Dirty-stream fuzz: NULL users, NULL timestamps, duplicate
    events, clicks/purchases at identical instants — the streaming
    output SET must equal the batch left-outer interval join whatever
    the data-dependent median cut does to the micro-batching."""
    from rustic_witcher_spark.queries import q_attribution_incremental

    rows = [
        (i, (T0 + datetime.timedelta(minutes=off)) if off is not None else None, uid, typ, 1.0, None)
        for i, (uid, typ, off) in enumerate(data)
    ]
    d = tempfile.mkdtemp()
    _write_events(spark, rows, d)
    got = _rows(q_attribution_incremental(spark, d))
    want = _rows(_batch_attribution_expected(spark, d))
    assert got == want


def test_drift_incremental_equals_batch(spark, sf_dir):
    """The complete-mode state table + shared finalizer must reproduce
    the batch KL entry exactly (additive counts, same code path)."""
    from rustic_witcher_spark.queries import q_drift_incremental, q_drift_vs_reference

    assert _rows(q_drift_incremental(spark, sf_dir)) == _rows(
        q_drift_vs_reference(spark, sf_dir)
    )


def test_histogram_incremental_equals_batch(spark, sf_dir):
    """Streaming mergeable-histogram state + shared finalizer ==
    batch latency_histogram on the real table."""
    from rustic_witcher_spark.queries import q_histogram_incremental, q_latency_histogram

    assert _rows(q_histogram_incremental(spark, sf_dir)) == _rows(
        q_latency_histogram(spark, sf_dir)
    )


def test_histogram_incremental_dirty_events(spark):
    """Dirty-stream pin: NULL values (dropped), NULL event_type (one
    real group), NULL event_id (split key coalesces — no lost rows),
    value 0 and a large value land in the right buckets, and the
    stream result equals the batch build on the same log."""
    from rustic_witcher_spark.queries import q_histogram_incremental, q_latency_histogram

    rows = [
        (1, T0, 1, "click", 0.0, None),
        (2, T0, 1, "click", 1.0, None),
        (None, T0, 1, "click", 7.5, None),
        (4, T0, 2, None, 3.0, None),
        (5, T0, 2, None, None, None),       # NULL value: dropped
        (6, T0, 3, "view", 1000.0, None),
    ]
    d = tempfile.mkdtemp()
    _write_events(spark, rows, d)
    got = _rows(q_histogram_incremental(spark, d))
    want = _rows(q_latency_histogram(spark, d))
    assert got == want
    # NULL value dropped: total n across buckets is 5, not 6
    assert sum(r[3] for r in got) == 5


def test_drift_incremental_dirty_docs(spark):
    """Dirty-corpus pin: NULL text, empty text, NULL source (excluded
    by != on both faces), OOV terms — stream == batch."""
    from rustic_witcher_spark.queries import q_drift_incremental, q_drift_vs_reference

    docs = [
        (0, "alpha beta beta", "en", "src0", 15),
        (1, "alpha beta", "en", "src0", 10),
        (2, "alpha zz yy", "en", "src1", 11),
        (3, None, "en", "src1", 0),
        (4, "", "en", "src2", 0),
        (5, "beta beta beta", None, "src2", 14),
        (6, "alpha", "en", None, 5),          # NULL source: excluded everywhere
        (None, "beta gamma", "en", "src1", 10),  # NULL doc_id: split must keep it
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(d + "/documents.parquet")
    assert _rows(q_drift_incremental(spark, d)) == _rows(q_drift_vs_reference(spark, d))


def _write_customer(spark, rows, d):
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(d + "/customer.parquet")


def test_k_anonymity_lattice_levels_and_violations(spark):
    """Meaning pin: 12 records in one (nation, segment) cell split
    across two acctbal buckets (7+5) with K=10 — level 0 violates on
    both buckets, level 1 is the minimal safe generalization; l counts
    distinct exact balances."""
    from rustic_witcher_spark.queries import q_k_anonymity_lattice

    rows = [(i, "x", 1, 100.0 + (i % 2), "AUTO") for i in range(7)]           # bucket 0
    rows += [(100 + i, "x", 1, 1100.0, "AUTO") for i in range(5)]             # bucket 1
    d = tempfile.mkdtemp()
    _write_customer(spark, rows, d)
    out = {r["level"]: r for r in q_k_anonymity_lattice(spark, d).collect()}
    assert out[0]["n_groups"] == 2
    assert out[0]["violating_groups"] == 2
    assert out[0]["records_at_risk"] == 12
    assert out[0]["min_group_size"] == 5
    assert out[1]["n_groups"] == 1
    assert out[1]["violating_groups"] == 0          # 12 >= K: minimal safe level
    assert out[1]["min_l_diversity"] == 3           # 100.0, 101.0, 1100.0
    assert out[3]["n_groups"] == 1                  # grand total row


def test_k_anonymity_null_key_group_is_not_a_subtotal(spark):
    """The classic rollup-audit bug: a data-NULL nationkey group at
    level 0 must stay a level-0 group (grouping() flags identify
    levels), never collide with the level-2 subtotal over the same
    records."""
    from rustic_witcher_spark.queries import q_k_anonymity_lattice

    rows = [(i, "x", None, 50.0, "AUTO") for i in range(3)]
    rows += [(10 + i, "x", 2, 50.0, "AUTO") for i in range(4)]
    d = tempfile.mkdtemp()
    _write_customer(spark, rows, d)
    out = {r["level"]: r for r in q_k_anonymity_lattice(spark, d).collect()}
    # level 0: two real groups (NULL-nation x bucket, nation-2 x bucket)
    assert out[0]["n_groups"] == 2
    assert out[0]["min_group_size"] == 3
    # level 2 (nation only): still two groups — NULL nation is real data
    assert out[2]["n_groups"] == 2
    # level 3: ONE grand-total row over all 7
    assert out[3]["n_groups"] == 1 and out[3]["min_group_size"] == 7


def test_join_skew_probe_counts_and_ppm(spark):
    """Meaning pin: pairs = clicks x purchases per user, ppm by floor
    division over the total, NULL users dropped, click-only and
    purchase-only users emit nothing, ties break on user_id."""
    from rustic_witcher_spark.queries import q_join_skew_probe

    rows = []
    eid = 0
    def add(uid, typ, n):
        nonlocal eid, rows
        for _ in range(n):
            rows.append((eid, T0, uid, typ, 1.0, None)); eid += 1
    add(1, "click", 3); add(1, "purchase", 2)    # 6 pairs
    add(2, "click", 2); add(2, "purchase", 1)    # 2 pairs
    add(3, "click", 1); add(3, "purchase", 2)    # 2 pairs (tie with user 2)
    add(4, "click", 5)                           # click-only: no row
    add(None, "click", 2); add(None, "purchase", 2)  # NULL user: dropped
    d = tempfile.mkdtemp()
    _write_events(spark, rows, d)
    got = [tuple(r) for r in q_join_skew_probe(spark, d).collect()]
    assert got == [
        (1, 3, 2, 6, 600000),
        (2, 2, 1, 2, 200000),
        (3, 1, 2, 2, 200000),
    ]


# --- round-12 second batch: basket_rules + fd_audit -------------------


def _write_tbl(spark, rows, schema, d, name):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        d + f"/{name}.parquet"
    )


def test_basket_rules_support_confidence_lift(spark):
    """Meaning pin on hand-built baskets: {A,B}x3, {A,C}x1, {B}x1 over
    5 baskets. Pair (A,C) has count 1 and falls to the a-priori floor;
    (A,B) yields BOTH directed rules with exact integer ppm:
    support floor(1e6*3/5), confidence floor(1e6*3/4) each way (n_A =
    n_B = 4), lift floor(1e6*3*5/16). Duplicate (order, part) lines
    collapse (basket = distinct brands); a lineitem whose part is
    missing from the dimension drops via the inner join."""
    from rustic_witcher_spark.queries import q_basket_rules

    li = []
    for o, parts in ((1, [1, 2]), (2, [1, 2]), (3, [1, 3]), (4, [2]), (5, [1, 2])):
        li += [(o, p) for p in parts]
    li.append((1, 1))    # duplicate line: same order, same part
    li.append((3, 99))   # dangling partkey: no dimension row
    pt = [(1, "Brand#A"), (2, "Brand#B"), (3, "Brand#C")]
    d = tempfile.mkdtemp()
    _write_tbl(spark, li, "l_orderkey long, l_partkey long", d, "lineitem")
    _write_tbl(spark, pt, "p_partkey long, p_brand string", d, "part")
    got = [tuple(r) for r in q_basket_rules(spark, d).collect()]
    assert got == [
        ("Brand#A", "Brand#B", 3, 4, 4, 600000, 750000, 937500),
        ("Brand#B", "Brand#A", 3, 4, 4, 600000, 750000, 937500),
    ]


def test_basket_rules_empty_and_no_pairs(spark):
    """No basket holds two brands twice -> every pair is under the
    a-priori floor -> zero rules (not an error); empty lineitem -> zero
    rules."""
    from rustic_witcher_spark.queries import q_basket_rules

    d = tempfile.mkdtemp()
    _write_tbl(spark, [(1, 1), (2, 2)], "l_orderkey long, l_partkey long", d, "lineitem")
    _write_tbl(spark, [(1, "Brand#A"), (2, "Brand#B")], "p_partkey long, p_brand string", d, "part")
    assert q_basket_rules(spark, d).count() == 0
    _write_tbl(spark, [], "l_orderkey long, l_partkey long", d, "lineitem")
    assert q_basket_rules(spark, d).count() == 0


def test_fd_audit_confirms_and_refutes(spark):
    """Meaning pin: per candidate FD, exact key counts / violating
    keys / worst fan-out / holds flag on a hand-built mini-warehouse.
    NULL dependents are invisible to countDistinct (a key mapping only
    to NULL is NOT a violation); a NULL determinant groups as its own
    key on both engines."""
    from rustic_witcher_spark.queries import q_fd_audit

    d = tempfile.mkdtemp()
    _write_tbl(
        spark,
        [(1, "n1", 10, 0.0, "SEG1"), (2, "n2", 10, 0.0, "SEG2"), (3, "n2", 11, 0.0, "SEG1"),
         (4, None, 12, 0.0, "SEG1")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
        d, "customer",
    )
    _write_tbl(
        spark,
        [(1, "en", "s1"), (2, "en", "s1"), (3, "fr", "s2"), (4, "de", None)],
        "doc_id long, lang string, source string",
        d, "documents",
    )
    _write_tbl(
        spark,
        [(1, 1, "HIGH"), (2, 1, "LOW"), (3, 2, "HIGH")],
        "o_orderkey long, o_custkey long, o_orderpriority string",
        d, "orders",
    )
    _write_tbl(
        spark,
        [(1, "Brand#A", "t1"), (2, "Brand#A", "t2"), (3, "Brand#B", "t1")],
        "p_partkey long, p_brand string, p_type string",
        d, "part",
    )
    got = {r["fd"]: r for r in q_fd_audit(spark, d).collect()}
    # c_name -> c_nationkey: keys {n1, n2, NULL}; n2 maps to {10, 11}
    r = got["customer.c_name->c_nationkey"]
    assert (r["n_keys"], r["violating_keys"], r["max_dependents"], r["holds"]) == (3, 1, 2, 0)
    assert r["violation_ppm"] == 333333
    # c_nationkey -> c_mktsegment: 10 -> {SEG1, SEG2} violates; 11, 12 hold
    r = got["customer.c_nationkey->c_mktsegment"]
    assert (r["n_keys"], r["violating_keys"], r["holds"]) == (3, 1, 0)
    # lang -> source HOLDS: en -> {s1}, fr -> {s2}, de -> only NULL (nd = 0)
    r = got["documents.lang->source"]
    assert (r["n_keys"], r["violating_keys"], r["max_dependents"], r["holds"]) == (3, 0, 1, 1)
    assert r["violation_ppm"] == 0
    # o_custkey -> o_orderpriority: cust 1 -> {HIGH, LOW}
    r = got["orders.o_custkey->o_orderpriority"]
    assert (r["n_keys"], r["violating_keys"], r["holds"]) == (2, 1, 0)
    # p_brand -> p_type violated; p_partkey -> p_brand holds (key FD)
    assert got["part.p_brand->p_type"]["holds"] == 0
    r = got["part.p_partkey->p_brand"]
    assert (r["n_keys"], r["violating_keys"], r["holds"]) == (3, 0, 1)


def test_fd_audit_empty_tables(spark):
    """Empty inputs: every FD reports n_keys 0, ppm NULL (no division
    by zero on either engine), holds 1 (vacuous truth)."""
    from rustic_witcher_spark.queries import q_fd_audit

    d = tempfile.mkdtemp()
    _write_tbl(spark, [], "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string", d, "customer")
    _write_tbl(spark, [], "doc_id long, lang string, source string", d, "documents")
    _write_tbl(spark, [], "o_orderkey long, o_custkey long, o_orderpriority string", d, "orders")
    _write_tbl(spark, [], "p_partkey long, p_brand string, p_type string", d, "part")
    rows = q_fd_audit(spark, d).collect()
    assert len(rows) == 6
    for r in rows:
        assert (r["n_keys"], r["violating_keys"], r["holds"]) == (0, 0, 1)
        assert r["violation_ppm"] is None and r["max_dependents"] is None


@settings(**SETTINGS)
@given(data=st.data())
def test_basket_and_fd_oracle_parity_on_dirty_warehouse(spark, tmp_path_factory, data):
    """Dirty-warehouse fuzz: random tiny lineitem/part/customer/orders/
    documents tables with NULL keys, NULL values, dangling FKs and
    duplicate lines — both new entries must match their DuckDB twins
    exactly (the same gate the driver runs)."""
    import duckdb

    import __spark_entry__ as entrymod

    d = tmp_path_factory.mktemp("fddirty")
    n_li = data.draw(st.integers(3, 25))
    li = [
        (
            data.draw(st.integers(1, 6)),
            None if data.draw(st.integers(0, 9)) == 0 else data.draw(st.integers(1, 8)),
        )
        for _ in range(n_li)
    ]
    pt = [
        (k, data.draw(st.sampled_from(["Brand#A", "Brand#B", "Brand#C", None])),
         data.draw(st.sampled_from(["t1", "t2", None])))
        for k in range(1, data.draw(st.integers(2, 7)))
    ]
    cust = [
        (i, data.draw(st.sampled_from(["n1", "n2", None])),
         data.draw(st.sampled_from([10, 11, None])),
         0.0, data.draw(st.sampled_from(["SEG1", "SEG2", None])))
        for i in range(data.draw(st.integers(1, 8)))
    ]
    docs = [
        (i, data.draw(st.sampled_from(["en", "fr", None])),
         data.draw(st.sampled_from(["s1", "s2", None])))
        for i in range(data.draw(st.integers(1, 8)))
    ]
    orders = [
        (i, data.draw(st.sampled_from([1, 2, None])),
         data.draw(st.sampled_from(["HIGH", "LOW", None])))
        for i in range(data.draw(st.integers(1, 8)))
    ]
    _write_tbl(spark, li, "l_orderkey long, l_partkey long", str(d), "lineitem")
    _write_tbl(spark, pt, "p_partkey long, p_brand string, p_type string", str(d), "part")
    _write_tbl(spark, cust, "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string", str(d), "customer")
    _write_tbl(spark, docs, "doc_id long, lang string, source string", str(d), "documents")
    _write_tbl(spark, orders, "o_orderkey long, o_custkey long, o_orderpriority string", str(d), "orders")

    con = duckdb.connect()
    for t in ("lineitem", "part", "customer", "documents", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    qs, osqls = entrymod.queries(), entrymod.oracle_sql()
    for name in ("basket_rules", "fd_audit"):
        g = qs[name](spark, str(d)).toPandas()
        w = con.execute(osqls[name]).fetchdf()
        cols = sorted(g.columns)
        gs = sorted(map(tuple, g[cols].astype(str).values.tolist()))
        ws = sorted(map(tuple, w[cols].astype(str).values.tolist()))
        assert gs == ws, (name, len(gs), len(ws), gs[:5], ws[:5])


# --- round-12 third batch: ab_test_summary + value_trend_ols ----------


def test_ab_test_summary_welch_t(spark):
    """Meaning pin with hand-computed Welch t: arm A (even user_ids)
    holds four events all 10.00 (variance 0), arm B (odd) holds 12.00
    and 14.00 (mean 13, sample variance 2) -> se^2 = 0/4 + 2/2 = 1,
    t = (10 - 13)/1 = -3.0, significant at 1.96. A second metric with a
    single-event arm has no sample variance -> t and the flag are NULL.
    NULL user/value/type rows drop."""
    from rustic_witcher_spark.queries import q_ab_test_summary

    rows, eid = [], 0
    for uid, val in ((2, 10.0), (4, 10.0), (6, 10.0), (8, 10.0), (1, 12.0), (3, 14.0)):
        rows.append((eid, T0, uid, "m1", val, None)); eid += 1
    rows += [(eid, T0, 2, "m2", 5.0, None), (eid + 1, T0, 4, "m2", 7.0, None),
             (eid + 2, T0, 1, "m2", 6.0, None)]
    rows += [(90, T0, None, "m1", 99.0, None), (91, T0, 2, "m1", None, None),
             (92, T0, 2, None, 1.0, None)]
    d = tempfile.mkdtemp()
    _write_events(spark, rows, d)
    got = {r["event_type"]: r for r in q_ab_test_summary(spark, d).collect()}
    r = got["m1"]
    assert (r["n_a"], r["n_b"], r["mean_a"], r["mean_b"]) == (4, 2, 10.0, 13.0)
    assert r["t_stat"] == -3.0 and r["significant"] == 1
    r = got["m2"]
    assert (r["n_a"], r["n_b"]) == (2, 1)
    assert r["t_stat"] is None and r["significant"] is None
    assert set(got) == {"m1", "m2"}


def test_value_trend_ols_exact_line(spark):
    """Meaning pin: a perfect line value = 1.00 + 0.50x over hour
    indices 0..3 recovers slope 0.5 / intercept 1.0 / r2 exactly 1.0
    (the moment sums are exact integers, so the closed form is exact).
    A constant-value key gets slope 0 and NULL r2 (zero variance); a
    single-hour key has den = 0 -> all NULL."""
    import datetime

    from rustic_witcher_spark.queries import q_value_trend_ols

    rows, eid = [], 0
    for h, val in ((0, 1.0), (1, 1.5), (2, 2.0), (3, 2.5)):
        rows.append((eid, T0 + datetime.timedelta(hours=h, minutes=30), 1, "lin", val, None))
        eid += 1
    for h in (0, 1, 2):
        rows.append((eid, T0 + datetime.timedelta(hours=h), 2, "flat", 4.0, None)); eid += 1
    rows += [(eid, T0, 3, "point", 2.0, None), (eid + 1, T0, 3, "point", 3.0, None)]
    d = tempfile.mkdtemp()
    _write_events(spark, rows, d)
    got = {r["event_type"]: r for r in q_value_trend_ols(spark, d).collect()}
    r = got["lin"]
    assert (r["n"], r["slope_per_hour"], r["intercept"], r["r2"]) == (4, 0.5, 1.0, 1.0)
    r = got["flat"]
    assert (r["n"], r["slope_per_hour"], r["intercept"], r["r2"]) == (3, 0.0, 4.0, None)
    r = got["point"]
    assert r["n"] == 2 and r["slope_per_hour"] is None and r["intercept"] is None and r["r2"] is None


@settings(**SETTINGS)
@given(data=st.data())
def test_ab_and_trend_oracle_parity_on_dirty_streams(spark, tmp_path_factory, data):
    """Dirty-stream fuzz for the exact-arithmetic pair: random 2-decimal
    values, NULL user/value/type/ts sprinkles, hour-crossing timestamps
    — Spark must match the DuckDB twins exactly (the driver's gate)."""
    import datetime

    import duckdb

    import __spark_entry__ as entrymod

    n = data.draw(st.integers(5, 40))
    rows = []
    for i in range(n):
        ts = (
            None
            if data.draw(st.integers(0, 9)) == 0
            else T0 + datetime.timedelta(
                seconds=data.draw(st.integers(0, 3 * 24 * 3600)),
                microseconds=data.draw(st.sampled_from([0, 250000, 999999])),
            )
        )
        uid = None if data.draw(st.integers(0, 9)) == 0 else data.draw(st.integers(1, 4))
        etype = data.draw(st.sampled_from([None, "click", "view", "purchase"]))
        val = None if data.draw(st.integers(0, 9)) == 0 else data.draw(st.integers(0, 9999)) / 100.0
        rows.append((i, ts, uid, etype, val, None))
    d = tmp_path_factory.mktemp("abdirty")
    _write_events(spark, rows, str(d))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet/*.parquet')"
    )
    qs, osqls = entrymod.queries(), entrymod.oracle_sql()
    for name in ("ab_test_summary", "value_trend_ols"):
        g = qs[name](spark, str(d)).toPandas()
        w = con.execute(osqls[name]).fetchdf()
        cols = sorted(g.columns)
        gs = sorted(map(tuple, g[cols].astype(str).values.tolist()))
        ws = sorted(map(tuple, w[cols].astype(str).values.tolist()))
        assert gs == ws, (name, len(gs), len(ws), gs[:5], ws[:5])


def test_fresh_workdir_keeps_a_running_process_dir(monkeypatch, tmp_path):
    """``_fresh_workdir`` wipes this process's earlier runs and those of
    processes that have exited, never the dir of a process that still
    runs: two sweeps at once used to delete each other's checkpoints."""
    import os
    import subprocess
    import sys

    from rustic_witcher_spark.queries import _fresh_workdir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    parent = tmp_path / "rw_spark_probe"
    live = parent / str(os.getppid()) / "ckpt"
    live.mkdir(parents=True)
    exited = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"], capture_output=True, text=True, check=True
    ).stdout.strip()
    (parent / exited / "ckpt").mkdir(parents=True)

    first = _fresh_workdir("probe")
    second = _fresh_workdir("probe")
    assert live.is_dir()
    assert not (parent / exited).exists()
    assert not os.path.exists(first) and os.path.isdir(second)
