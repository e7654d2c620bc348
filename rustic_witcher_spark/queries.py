"""The engine's query inventory — driver contract payload.

Each entry: name -> (spark_fn(spark, sf_dir) -> DataFrame, duckdb_oracle_sql | None).

Coverage maps to SURVEY.md §2 line by line: filters F1–F8, transforms
T2/T3/T5–T8/T10, record reduction S2/S3, CDC upsert J1/S9, aggregates
A1/A3, plus the north-star extensions (TPC-H-ish analytics, dedup,
similarity, text analysis, windowed events).

Conventions that keep the oracle hash-match exact:
- every computed column is aliased identically in Spark and SQL
- timestamps are output as 'yyyy-MM-dd HH:mm:ss' strings (engine
  timestamp reprs differ; strings don't)
- FP aggregates are rounded (4–6 dp) so parallel-sum ordering noise
  can't flip the hash
- all randomness is the engine's md5-based deterministic hashing
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import tempfile
import threading
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rustic_witcher_spark.config.model import ColumnTransformation, FilterSpec, TableConfig, TransformationSpec
from rustic_witcher_spark.functions import fake, fake_sql
from rustic_witcher_spark.functions.hashing import hash64, hash_slice, md5_hex, sql_hash64, sql_hash_slice, sql_md5_hex
from rustic_witcher_spark.operators import (
    decontam,
    dedup,
    lm,
    mixing,
    multimodal,
    packing,
    quality,
    sampling,
    semdedup as semdedup_ops,
    similarity,
    sketches,
    skew,
    text,
)
from rustic_witcher_spark.operators import graph, layout, pq, profile, retrieval, scd2, skyline
from rustic_witcher_spark.operators.asof import asof_join
from rustic_witcher_spark.operators.cdc import apply_cdc
from rustic_witcher_spark.operators.range_join import range_join
from rustic_witcher_spark.operators.dedup import MERSENNE_31, perm_params
from rustic_witcher_spark.operators.materialize import materialize
from rustic_witcher_spark.plans.pipeline import anonymize_table, pipeline_oracle_sql
from rustic_witcher_spark.sources.parquet import read_events, read_fixed_table, read_table_files
from rustic_witcher_spark.streaming import drift, rollup, windows

SEED = 42

QueryFn = Callable[[SparkSession, str], DataFrame]


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    # Caller sessions may be vanilla: both readers pin the runtime confs the
    # engine's own factory sets (see sources.parquet.pin_parquet_confs),
    # and events.parquet's ns-precision ts is truncated to micros.
    df = read_events(spark, sf_dir) if table == "events" else read_fixed_table(spark, f"{sf_dir}/{table}.parquet")
    try:
        df._rw_scan_bytes = _table_bytes(sf_dir, table)  # _spread fast path
    except OSError:
        pass
    return df


def _table_bytes(sf_dir: str, table: str) -> int:
    """Total on-disk bytes of a table path (file or directory) via
    os.stat — no JVM round-trip."""
    path = f"{sf_dir}/{table}.parquet"
    if os.path.isdir(path):
        # recursive: partitioned tables keep part files in subdirs —
        # a top-level-only glob returned 0 and _spread then issued the
        # pure-waste full repartition its docstring forbids (ADVICE r12)
        total = sum(
            os.path.getsize(p)
            for p in glob.glob(f"{path}/**/*.parquet", recursive=True)
        )
        if total == 0:
            raise OSError(f"no parquet files under {path}")  # no hint → probe fallback
        return total
    return os.path.getsize(path)


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition a small-file scan across all cores before a heavy
    per-row projection — but ONLY when the scan is actually narrower
    than the cluster. Locally the test tables are single parquet files
    (one partition → fan out); on a real cluster the scan is already
    split and an unconditional repartition would be a pure-waste full
    shuffle, so it is skipped.

    The narrowness probe prefers the byte-size hint ``_read`` attaches
    (os.stat — free) over ``df.rdd.getNumPartitions()`` (which plans
    the whole scan RDD, ~110 ms of driver time per call on this host):
    a scan under 8x maxPartitionBytes cannot have 8+ non-trivial
    splits, and one over it is exactly the "already split" cluster
    case. The repartition decision is plan-shaping only — results are
    identical either way."""
    parallelism = spark.sparkContext.defaultParallelism
    nbytes = getattr(df, "_rw_scan_bytes", None)
    if nbytes is not None:
        # default maxPartitionBytes = 128 MB; a conf.get here would cost
        # the py4j round the hint exists to avoid, and the engine never
        # overrides the default.
        if nbytes >= min(parallelism, 8) * (128 << 20):
            return df
        return df.repartition(parallelism)
    if df.rdd.getNumPartitions() >= min(parallelism, 8):
        return df
    return df.repartition(parallelism)


# ---------------------------------------------------------------------------
# SQL helpers (DuckDB dialect) mirroring the Spark expression helpers
# ---------------------------------------------------------------------------

_NORM = "regexp_replace(lower(trim({c})), '\\s+', ' ', 'g')"


def _norm_sql(c: str) -> str:
    return _NORM.format(c=c)


def _toks_sql(c: str) -> str:
    n = f"coalesce({_norm_sql(c)}, '')"
    return f"(CASE WHEN length({n}) = 0 THEN []::VARCHAR[] ELSE string_split({n}, ' ') END)"


# DuckDB twins of the dedup-family kernels in operators/dedup.py, one
# definition each (the registry's oracle hash pins their exact text).

# text_digest: the exact-dedup key
_SQL_DIGEST = f"md5({_norm_sql('text')})"

# char_shingles(k=5) over a normalized-text column ``n``
_SQL_CHAR5_SHINGLES = "list_distinct([substring(n, i, 5) FOR i IN generate_series(1, greatest(length(n) - 4, 1))])"


def _sql_tok_h() -> str:
    """Token-hash pass of ``word_shingle_hashes``: ONE md5 per token of
    the normalized text, reduced mod M31 (read as column ``tok_h``)."""
    toks = f"string_split({_norm_sql('text')}, ' ')"
    return f"list_transform({toks}, t -> ({sql_hash64('t', SEED, 'mh')}) % {MERSENNE_31})"


def _sql_word3_hashes(whole: str) -> str:
    """``word_shingle_hashes`` over a ``tok_h`` column: the arithmetic
    3-gram combine, or the hash of ``whole`` (the normalized text) for
    texts of fewer than 3 tokens."""
    grams = (
        f"list_transform(generate_series(1, len(tok_h) - 2), "
        f"i -> ((tok_h[i] * {dedup._GRAM_W1}) % {MERSENNE_31} + (tok_h[i+1] * {dedup._GRAM_W2}) % {MERSENNE_31} + tok_h[i+2]) % {MERSENNE_31})"
    )
    return f"CASE WHEN len(tok_h) >= 3 THEN {grams} ELSE [({sql_hash64(whole, SEED, 'mh')}) % {MERSENNE_31}] END"


def _sql_base_h(src: str) -> str:
    """(doc_id, base_h): the word-3-gram hash list of every ``src`` row."""
    return (
        f"SELECT doc_id, ({_sql_word3_hashes(_norm_sql('text'))}) AS base_h FROM "
        f"(SELECT doc_id, text, {_sql_tok_h()} AS tok_h FROM {src})"
    )


def _sql_lsh_bands(num_perm: int, bands: int) -> str:
    """``_lsh_bands`` over a ``sig`` CTE: the ``bands`` CTE of
    (doc_id, b, bhash) rows."""
    rpb = num_perm // bands
    return f"""bands AS (
  SELECT doc_id, t.b,
         md5(array_to_string(list_transform(sig[t.b*{rpb}+1 : t.b*{rpb}+{rpb}], x -> x::VARCHAR), ',')) AS bhash
  FROM sig, generate_series(0, {bands - 1}) t(b)
)"""


# every doc pair sharing a band bucket (the uncapped twin of the
# engine's ``_bucket_pairs`` over ``_lsh_bands``)
_SQL_LSH_PAIRS = """pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.b = b.b AND a.bhash = b.bhash AND a.doc_id < b.doc_id
)"""


_FMT = "yyyy-MM-dd HH:mm:ss"


def _fmt_sql(c: str) -> str:
    return f"strftime({c}, '%Y-%m-%d %H:%M:%S')"


# ---------------------------------------------------------------------------
# Reference surface: anonymization pipelines (config IS the plan)
# ---------------------------------------------------------------------------

CUSTOMER_COLUMNS = [
    ("c_custkey", "BIGINT"),
    ("c_name", "VARCHAR"),
    ("c_nationkey", "INTEGER"),
    ("c_acctbal", "DOUBLE"),
    ("c_mktsegment", "VARCHAR"),
]

ANON_CUSTOMER_CFG = TableConfig(
    table_name="customer",
    filter=FilterSpec(type="AnyOfInt", column="c_nationkey", values=(1, 2, 3)),
    column_transformations=(
        ColumnTransformation("c_name", TransformationSpec(type="Custom", operation_type="fake_name_transformation"), retain_if_empty=True),
        ColumnTransformation("c_mktsegment", TransformationSpec(type="Replace", replacement_value="SEGMENT")),
        ColumnTransformation("c_acctbal", TransformationSpec(type="Nullify")),
    ),
)


def q_anonymize_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return anonymize_table(_read(spark, sf_dir, "customer"), ANON_CUSTOMER_CFG, SEED)


SUPPLIER_COLUMNS = [("s_suppkey", "BIGINT"), ("s_name", "VARCHAR"), ("s_nationkey", "INTEGER"), ("s_acctbal", "DOUBLE")]

ANON_SUPPLIER_CFG = TableConfig(
    table_name="supplier",
    column_transformations=(
        ColumnTransformation("s_name", TransformationSpec(type="Custom", operation_type="fake_companyname_transformation")),
        ColumnTransformation("s_acctbal", TransformationSpec(type="Nullify")),
    ),
)


def q_anonymize_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return anonymize_table(_read(spark, sf_dir, "supplier"), ANON_SUPPLIER_CFG, SEED)


ANON_ORDERS_CFG = TableConfig(
    table_name="orders",
    filter=FilterSpec(type="Equals", column="o_orderstatus", value="O"),
    column_transformations=(
        ColumnTransformation("o_orderpriority", TransformationSpec(type="Replace", replacement_value="X-CLASSIFIED")),
    ),
)


def q_anonymize_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = anonymize_table(_read(spark, sf_dir, "orders"), ANON_ORDERS_CFG, SEED)
    return out.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.date_format("o_orderdate", _FMT).alias("o_orderdate_str"), "o_orderpriority",
    )


def sql_anonymize_orders() -> str:
    inner = pipeline_oracle_sql(ANON_ORDERS_CFG, [("o_orderkey", "BIGINT"), ("o_custkey", "BIGINT"), ("o_orderstatus", "VARCHAR"), ("o_totalprice", "DOUBLE"), ("o_orderdate", "TIMESTAMP"), ("o_orderpriority", "VARCHAR")])
    return (
        f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        f"{_fmt_sql('o_orderdate')} AS o_orderdate_str, o_orderpriority FROM ({inner})"
    )


def q_faker_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "customer")
    c = F.col("c_name")
    return df.select(
        F.col("c_custkey").alias("k"),
        fake.fake_firstname(c, SEED).alias("first_name"),
        fake.fake_lastname(c, SEED).alias("last_name"),
        fake.fake_name(c, SEED).alias("full_name"),
        fake.fake_companyname(c, SEED).alias("company"),
        fake.fake_email(c, SEED).alias("email"),
        fake.fake_address(c, SEED).alias("address"),
        fake.fake_md5(c, SEED).alias("uuid"),
        fake.fake_phone(c, SEED).alias("phone"),
    )


def sql_faker_suite() -> str:
    v = "c_name"
    return (
        "SELECT c_custkey AS k, "
        f"{fake_sql.sql_fake_firstname(v, SEED)} AS first_name, "
        f"{fake_sql.sql_fake_lastname(v, SEED)} AS last_name, "
        f"{fake_sql.sql_fake_name(v, SEED)} AS full_name, "
        f"{fake_sql.sql_fake_companyname(v, SEED)} AS company, "
        f"{fake_sql.sql_fake_email(v, SEED)} AS email, "
        f"{fake_sql.sql_fake_address(v, SEED)} AS address, "
        f"{fake_sql.sql_fake_md5(v, SEED)} AS uuid, "
        f"{fake_sql.sql_fake_phone(v, SEED)} AS phone "
        "FROM customer"
    )


def q_fake_multi_email(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postgres array-literal handling (T7) over a synthesized '{a,b}' column."""
    df = _read(spark, sf_dir, "documents")
    arr = F.concat(F.lit("{"), F.col("source"), F.lit(","), F.col("lang"), F.lit("}"))
    return df.select(F.col("doc_id"), fake.fake_multi_email(arr, SEED).alias("emails"))


def sql_fake_multi_email_docs() -> str:
    arr = "('{' || source || ',' || lang || '}')"
    return f"SELECT doc_id, {fake_sql.sql_fake_multi_email(arr, SEED)} AS emails FROM documents"


def q_fake_email_id_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "customer")
    return df.select(F.col("c_custkey"), fake.fake_email_with_id_prefix(F.col("c_name"), F.col("c_custkey"), SEED).alias("email"))


def q_sanitize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10 null-byte sanitize over events.props (JSON strings)."""
    cfg = TableConfig(table_name="events", sanitize_null_bytes=True)
    df = _read(spark, sf_dir, "events").select("event_id", "event_type", "props")
    return anonymize_table(df, cfg, SEED)


SQL_SANITIZE_EVENTS = (
    "SELECT event_id, "
    "(CASE WHEN contains(event_type, chr(0)) THEN NULL ELSE event_type END) AS event_type, "
    "(CASE WHEN contains(props, chr(0)) THEN NULL ELSE props END) AS props "
    "FROM events"
)


def q_keep_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 record reduction: head-slice of the (single) LOAD file.

    Layout contract (matches the reference): keep_num_of_records heads
    the FIRST load file, so WHICH rows survive is defined by that
    file's row order. On a multi-file layout a head-N without ORDER BY
    is engine-arbitrary — the 8-way layout-invariance sweep documents
    this as the ONE entry (of 154) whose result is layout-defined, not
    layout-invariant; the reference prunes to the first file before
    slicing (sources/parquet.py S3 pruning) for exactly this reason.
    """
    cfg = TableConfig(table_name="part", keep_num_of_records=100)
    return anonymize_table(_read(spark, sf_dir, "part"), cfg, SEED)


# ------------------------------------------------------------------ filters

FILTER_QUERIES: dict[str, tuple[str, FilterSpec]] = {
    "filter_contains": ("part", FilterSpec(type="Contains", column="p_name", value="widget")),
    "filter_startswith": ("part", FilterSpec(type="StartsWith", column="p_name", value="small")),
    "filter_endswith": ("part", FilterSpec(type="EndsWith", column="p_name", value="bolt")),
    "filter_startsends": ("part", FilterSpec(type="StartsAndEndsWith", starts_with="red", ends_with="gear", column="p_name")),
    "filter_equals": ("customer", FilterSpec(type="Equals", column="c_mktsegment", value="BUILDING")),
    "filter_anyofint": ("customer", FilterSpec(type="AnyOfInt", column="c_nationkey", values=(1, 2, 3))),
    "filter_anyofstring": ("orders", FilterSpec(type="AnyOfString", column="o_orderpriority", values=("1-URGENT", "2-HIGH"))),
}

_FILTER_OUTPUT_COLS = {
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
}


def _make_filter_query(table: str, spec: FilterSpec) -> QueryFn:
    from rustic_witcher_spark.operators.filters import apply_filter

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return apply_filter(_read(spark, sf_dir, table), spec).select(*_FILTER_OUTPUT_COLS[table])

    return fn


def _filter_sql(table: str, spec: FilterSpec) -> str:
    from rustic_witcher_spark.operators.filters import filter_to_sql

    cols = ", ".join(_FILTER_OUTPUT_COLS[table])
    pred = filter_to_sql(spec)
    return f"SELECT {cols} FROM {table}" + (f" WHERE {pred}" if pred else "")


# ------------------------------------------------------------ CDC upsert J1


def q_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emulated DMS CDC batch over events: updates for event_id%10==0
    (value+1000), deletes for event_id%17==0; delete wins (later ts)."""
    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    base = ev.withColumn("Op", F.lit("I")).withColumn("_dms_ingestion_timestamp", F.lit(1).cast("long"))
    updates = (
        ev.filter(F.col("event_id") % 10 == 0)
        .withColumn("value", F.col("value") + 1000)
        .withColumn("Op", F.lit("U"))
        .withColumn("_dms_ingestion_timestamp", F.lit(2).cast("long"))
    )
    deletes = (
        ev.filter(F.col("event_id") % 17 == 0)
        .withColumn("Op", F.lit("D"))
        .withColumn("_dms_ingestion_timestamp", F.lit(3).cast("long"))
    )
    return apply_cdc(base, updates.unionByName(deletes), pk=["event_id"])


SQL_CDC_UPSERT = """
WITH base AS (SELECT event_id, user_id, event_type, value FROM events),
cdc AS (
  SELECT event_id, user_id, event_type, value + 1000 AS value, 'U' AS op, 2 AS ts FROM events WHERE event_id % 10 = 0
  UNION ALL
  SELECT event_id, user_id, event_type, value, 'D' AS op, 3 AS ts FROM events WHERE event_id % 17 = 0
),
latest AS (
  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) AS rn FROM cdc) WHERE rn = 1
)
SELECT b.event_id, b.user_id, b.event_type, b.value FROM base b
WHERE b.event_id NOT IN (SELECT event_id FROM latest)
UNION ALL
SELECT event_id, user_id, event_type, value FROM latest WHERE op <> 'D'
"""


def q4_priority_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS semi-join: count orders (per priority)
    having at least one returned lineitem. left_semi keeps one probe
    per order (no duplicate-count hazard, no row-width growth); the
    probe side is pre-projected to the join key so the shuffle carries
    8-byte keys."""
    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(F.col("l_orderkey").alias("o_orderkey"))
    return (
        o.join(li, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


SQL_Q4_RETURNS = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — HAVING over a fact aggregate then enrich:
    orders whose total lineitem quantity exceeds 150, joined to
    customer (broadcast dim), top-20 by quantity. The aggregate runs
    BEFORE the joins so only qualifying orderkeys reach them."""
    li = _read(spark, sf_dir, "lineitem")
    big = (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = _read(spark, sf_dir, "customer").select(F.col("c_custkey").alias("o_custkey"), "c_name")
    return (
        big.join(o, "o_orderkey")
        .join(F.broadcast(c), "o_custkey")
        .select("c_name", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "sum_qty")
        .orderBy(F.col("sum_qty").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


SQL_Q18_LARGE = """
WITH big AS (
  SELECT l_orderkey AS o_orderkey, round(sum(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY 1 HAVING round(sum(l_quantity), 2) > 150
)
SELECT c_name, o_orderkey, round(o_totalprice, 2) AS o_totalprice, sum_qty
FROM big JOIN orders USING (o_orderkey) JOIN customer ON c_custkey = o_custkey
ORDER BY sum_qty DESC, o_orderkey ASC
LIMIT 20
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — two-dimension multi-join: revenue shipped
    between two nation pairs per year. Both nation dims broadcast; the
    lineitem→orders fact-fact join shuffles once on orderkey."""
    n = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = ("NATION_1", "NATION_2")
    supp = (
        _read(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n.filter(F.col("n_name").isin(*pair))), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("s_suppkey").alias("l_suppkey"), F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        .join(F.broadcast(n.filter(F.col("n_name").isin(*pair))), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("c_custkey").alias("o_custkey"), F.col("n_name").alias("cust_nation"))
    )
    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _read(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    return (
        li.join(F.broadcast(supp), "l_suppkey")
        .join(o, "o_orderkey")
        .join(F.broadcast(cust), "o_custkey")
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )


SQL_Q7_VOLUME = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation sn ON sn.n_nationkey = s_nationkey AND sn.n_name IN ('NATION_1', 'NATION_2')
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation cn ON cn.n_nationkey = c_nationkey AND cn.n_name IN ('NATION_1', 'NATION_2')
WHERE sn.n_name <> cn.n_name
GROUP BY 1, 2, 3
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: a 6-table join where
    every dimension chain (part type filter, customer→nation→region,
    supplier→nation) collapses to a broadcast, so the only shuffle is
    the lineitem⋈orders fact-fact join on orderkey. The share is a
    conditional-sum ratio per order year."""
    n = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _read(spark, sf_dir, "region").select("r_regionkey", "r_name")
    cust = (
        _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r.filter(F.col("r_name") == "AMERICA")), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    supp = (
        _read(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n.select(F.col("n_nationkey"), F.col("n_name").alias("supp_nation"))),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("s_suppkey").alias("l_suppkey"), "supp_nation")
    )
    p = _read(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD").select("p_partkey")
    o = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    li = _read(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, "o_orderkey")
        .join(F.broadcast(cust), "o_custkey")
        .join(F.broadcast(supp), "l_suppkey")
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(F.lit(0.0))) / F.sum(vol), 6
            ).alias("mkt_share")
        )
    )


SQL_Q8 = """
SELECT year(o_orderdate) AS o_year,
       round(sum(CASE WHEN sn.n_name = 'NATION_1' THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM lineitem
JOIN part ON p_partkey = l_partkey AND p_type = 'STANDARD'
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation cn ON cn.n_nationkey = c_nationkey
JOIN region ON r_regionkey = cn.n_regionkey AND r_name = 'AMERICA'
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation sn ON sn.n_nationkey = s_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
"""


def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: the synthetic schema has no partsupp /
    supplycost, so profit is discounted revenue): per supplier-nation
    per order-year rollup over the lineitem⋈orders fact-fact join with
    broadcast part/supplier/nation dims."""
    p = _read(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    n = _read(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    supp = (
        _read(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("s_suppkey").alias("l_suppkey"), "nation")
    )
    o = _read(spark, sf_dir, "orders").select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    li = _read(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, "o_orderkey")
        .join(F.broadcast(supp), "l_suppkey")
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("profit"))
    )


SQL_Q9 = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey AND p_brand = 'Brand#13'
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
GROUP BY 1, 2
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — pure scan + filter + global agg. Every
    predicate reaches the parquet scan (PushedFilters on shipdate /
    discount / quantity); no shuffle beyond the 1-row partial-agg
    exchange."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"))
    )


SQL_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.04
  AND l_quantity < 24
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item revenue per customer, top 20.
    The orders→lineitem fact-fact join shuffles once on orderkey; the
    customer enrich happens AFTER the per-customer aggregate (only
    ~top-heavy grouped rows reach it) with nation broadcast."""
    o = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01")) & (F.col("o_orderdate") < F.lit("1996-10-01"))
    ).select("o_orderkey", "o_custkey")
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice", "l_discount"
    )
    rev = (
        o.join(li, "o_orderkey")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )
    c = _read(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    n = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        rev.join(c, "c_custkey")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"), "n_name", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


SQL_Q10 = """
WITH rev AS (
  SELECT o_custkey AS c_custkey,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
    AND l_returnflag = 'R'
  GROUP BY 1
)
SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal, n_name, revenue
FROM rev JOIN customer USING (c_custkey) JOIN nation ON n_nationkey = c_nationkey
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q12_shipping_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: the synthetic schema has no shipmode,
    so the group key is an on-time/late shipping bucket): conditional
    CASE aggregation of order priorities per bucket. One fact-fact
    shuffle on orderkey; the CASE sums are map-side partials."""
    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _read(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("o_orderkey"), "l_shipdate")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, "o_orderkey")
        .withColumn(
            "ship_bucket",
            F.when(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60, F.lit("late")).otherwise(F.lit("ontime")),
        )
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


SQL_Q12 = """
SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60 THEN 'late' ELSE 'ontime' END AS ship_bucket,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
GROUP BY 1
ORDER BY 1
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — conditional-revenue ratio over a broadcast
    dim join. part is broadcast; the month filter reaches the lineitem
    scan; single-row output via one partial-agg exchange."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01")) & (F.col("l_shipdate") < F.lit("1996-04-01"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = _read(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100 * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))) / F.sum(disc), 4
            ).alias("promo_revenue_pct")
        )
    )


SQL_Q14 = """
SELECT round(100 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — supplier(s) whose quarterly revenue equals the
    global max: a scalar-subquery pattern done Spark-side as a
    broadcast join against the 1-row max (no driver collect, no
    single-partition window over the whole revenue table)."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("total_revenue"))
    )
    top = rev.agg(F.max("total_revenue").alias("total_revenue"))
    s = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(top), "total_revenue")
        .join(F.broadcast(s), "s_suppkey")
        .select("s_suppkey", "s_name", "total_revenue")
    )


SQL_Q15 = """
WITH rev AS (
  SELECT l_suppkey AS s_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier USING (s_suppkey)
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar subquery (per-part average
    quantity) decorrelated into a broadcast aggregate join: lineitems
    below 20% of their part's average quantity for one brand. The
    per-part threshold table is tiny (filtered brand) → broadcast both
    the dim and the threshold; lineitem is scanned twice but never
    shuffled."""
    p = _read(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#13") & (F.col("p_size") <= 10)
    ).select("p_partkey")
    li = _read(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_quantity", "l_extendedprice"
    )
    li_b = li.join(F.broadcast(p), "p_partkey")
    thr = li_b.groupBy("p_partkey").agg((0.2 * F.avg("l_quantity")).alias("qty_threshold"))
    return (
        li_b.join(F.broadcast(thr), "p_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


SQL_Q17 = """
WITH pk AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13' AND p_size <= 10),
li AS (SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem JOIN pk ON p_partkey = l_partkey),
thr AS (SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_threshold FROM li GROUP BY 1)
SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
FROM li JOIN thr USING (l_partkey)
WHERE l_quantity < qty_threshold
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — disjunction of conjunctive brand/size/quantity
    bands over a dim join. Catalyst keeps the p_partkey equi-key as the
    (broadcast) join condition and evaluates the OR-of-ANDs as a
    post-join residual; the quantity bounds still push to the scan as
    l_quantity <= 40."""
    li = _read(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    p = _read(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 10)) & (F.col("l_quantity").between(1, 15)))
        | ((F.col("p_brand") == "Brand#7") & (F.col("p_size").between(1, 20)) & (F.col("l_quantity").between(10, 25)))
        | ((F.col("p_brand") == "Brand#20") & (F.col("p_size").between(1, 30)) & (F.col("l_quantity").between(25, 40)))
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )


SQL_Q19 = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 25 AND 40)
"""


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — anti-join + scalar subquery: customers with
    above-average positive balance and no URGENT orders (every
    synthetic customer has at least one order, so the classic
    no-orders-at-all predicate would be vacuous), rolled up by market
    segment. The average is a 1-row broadcast (no driver collect); the
    NOT EXISTS compiles to a left-anti hash join on custkey.

    The threshold sums exact integer cents: avg(double) is
    summation-order-sensitive, and as a filter bound a last-bit
    divergence between Spark's partitioned partials and DuckDB's
    sequential sum flips row membership (the skew_salted_stats /
    lineitem_unpivot class the r12 fuzz caught — this was the last
    threshold site, found by audit)."""
    c = _read(spark, sf_dir, "customer").select("c_custkey", "c_acctbal", "c_mktsegment")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
            / (F.lit(100.0) * F.count("c_acctbal"))
        ).alias("avg_bal")
    )
    o = _read(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


SQL_Q22 = """
SELECT c_mktsegment, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) / (100.0 * count(c_acctbal))
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY 1
"""


def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: no partsupp table in the synthetic
    schema, so "availqty > half of shipped" becomes "supplier holds a
    majority share of a part's 1996 volume"): nested aggregate feeding
    a semi-join. The part dim is broadcast into the lineitem scan (the
    type + year filters are pushed down); the (part, supplier) rollup
    and the per-part total share one hash partitioning on l_partkey, so
    the second agg and the share join add no extra shuffle of the big
    side. Quantities are summed as BIGINT so the 0.5*total threshold is
    exact in both engines. The final supplier lookup is LEFT SEMI — at
    100 TB the qualifying-supplier set is a tiny fraction of the dim,
    and no cartesian or full join ever materializes."""
    p = _read(spark, sf_dir, "part").filter(F.col("p_type") == "MEDIUM").select("p_partkey")
    li = (
        _read(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1997-01-01")))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "l_suppkey",
            F.col("l_quantity").cast("bigint").alias("qty"),
        )
    )
    # Materialized once: `pair` feeds both the per-part total and the
    # share join, and AQE's broadcast conversion of `tot` breaks
    # exchange reuse between the two branches (measured: 2 fact scans
    # without the cut). The rollup is bounded by |MEDIUM parts| x
    # |suppliers| — tiny next to lineitem.
    pair = materialize(
        li.join(F.broadcast(p), "p_partkey").groupBy("p_partkey", "l_suppkey").agg(
            F.sum("qty").alias("pair_qty")
        ),
        eager=False,
    )
    tot = pair.groupBy("p_partkey").agg(F.sum("pair_qty").alias("part_qty"))
    majors = (
        pair.join(tot, "p_partkey")
        .filter(F.col("pair_qty") > 0.5 * F.col("part_qty"))
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    s = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(majors, "s_suppkey", "left_semi").orderBy("s_name")


SQL_Q20 = """
WITH li AS (
  SELECT l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_type = 'MEDIUM'
    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
),
pair AS (SELECT l_partkey, l_suppkey, sum(qty) AS pair_qty FROM li GROUP BY 1, 2),
tot AS (SELECT l_partkey, sum(pair_qty) AS part_qty FROM pair GROUP BY 1)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM pair JOIN tot USING (l_partkey) WHERE pair_qty > 0.5 * part_qty
)
ORDER BY s_name
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: no l_receiptdate/l_commitdate, so
    "late" = shipped >90 days after the order date): the classic
    EXISTS + NOT-EXISTS stack on one fact — for finished orders, credit
    the supplier who was the SOLE late shipper on a multi-supplier
    order. Expressed as LEFT SEMI (another supplier exists on the
    order) then LEFT ANTI (no OTHER supplier was late) over the
    de-duplicated (orderkey, suppkey) pair sets; both joins hash on
    l_orderkey, so the semi, the anti, and the pair/late aggregations
    all reuse one orderkey partitioning — no cartesian, no re-shuffle
    between the steps. The nation-filtered supplier dim is broadcast.
    At 100 TB the pair sets are bounded by distinct (order, supplier),
    far smaller than raw lineitem."""
    o = _read(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    # ONE fact scan + ONE (orderkey, suppkey) aggregation yields BOTH
    # pair sets (all pairs, and pairs with any late line) — computing
    # them as two separate .distinct()s would scan and shuffle the fact
    # twice; here the groupBy exchange is shared (ReusedExchange) by
    # every downstream consumer.
    # Materialized once: the three consumers (semi-left, semi-probe,
    # anti-probe) sit behind DIFFERENT exchange kinds (AQE broadcasts
    # the probes), so exchange reuse can't dedupe them — without the
    # cut the fact scan+join+agg runs three times. The pair table is
    # bounded by distinct (order, supplier), far smaller than lineitem.
    pl = materialize(
        li.join(o, "l_orderkey")
        .withColumn(
            "is_late",
            (F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90).cast("int"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("is_late").alias("is_late")),
        eager=False,
    )
    pairs = pl.select("l_orderkey", "l_suppkey")
    late = pl.filter(F.col("is_late") == 1).select("l_orderkey", "l_suppkey")
    # Rename BOTH columns on the probe side of each self-join so the
    # join condition can never resolve both legs to the same attribute
    # (Spark's self-join disambiguation would otherwise fold
    # l_orderkey == l_orderkey into a trivially-true predicate).
    other_sup = pairs.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    other_late = late.select(
        F.col("l_orderkey").alias("o3_orderkey"),
        F.col("l_suppkey").alias("o3_suppkey"),
    )
    sole_late = (
        late.join(
            other_sup,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        )
        .join(
            other_late,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    s = _read(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name", "s_nationkey"
    )
    n = _read(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3").select("n_nationkey")
    s_in_nation = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
        "l_suppkey", "s_name"
    )
    return (
        sole_late.join(F.broadcast(s_in_nation), "l_suppkey")
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


SQL_Q21 = """
WITH f AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'),
pairs AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem JOIN f ON o_orderkey = l_orderkey
),
late AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem JOIN f ON o_orderkey = l_orderkey
  WHERE date_diff('day', o_orderdate, l_shipdate) > 90
)
SELECT s_name, count(*) AS numwait
FROM late l1
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE n_name = 'NATION_3'
  AND EXISTS (SELECT 1 FROM pairs p WHERE p.l_orderkey = l1.l_orderkey AND p.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l2 WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: no partsupp, so "min supply cost"
    becomes "min observed unit price in lineitem"): the correlated
    scalar-subquery argmin, decorrelated into agg + join-back. The
    per-part min and the achiever lookup share ONE l_partkey hash
    partitioning (groupBy then join on the same key — no second
    shuffle of the big side); the float-equality join-back is exact
    because both sides carry the identical double computed once from
    the same parquet values, and min() selects an element, not a new
    value. Ties broken by min suppkey. supplier dim broadcast."""
    p = _read(spark, sf_dir, "part").filter(F.col("p_size") <= 5).select("p_partkey")
    li = _read(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    li_p = li.join(F.broadcast(p), "p_partkey")
    mn = li_p.groupBy("p_partkey").agg(F.min("unit_price").alias("min_price"))
    ach = (
        li_p.join(mn, "p_partkey")
        .filter(F.col("unit_price") == F.col("min_price"))
        .groupBy("p_partkey", "min_price")
        .agg(F.min("l_suppkey").alias("s_suppkey"))
    )
    s = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        ach.join(F.broadcast(s), "s_suppkey")
        # explicit floor(x*1e4+0.5)/1e4 instead of round(): the min
        # unit price can land exactly on a 4-dp rounding boundary
        # (seen at sf0.1), where Spark's HALF_UP-on-decimal and
        # DuckDB's scaled-double round() disagree on the last digit;
        # floor over identical IEEE doubles is engine-invariant.
        .select(
            "p_partkey", "s_suppkey", "s_name",
            (F.floor(F.col("min_price") * 10000 + F.lit(0.5)) / 10000.0).alias("min_unit_price"),
        )
        .orderBy("p_partkey")
    )


SQL_Q2 = """
WITH pk AS (SELECT p_partkey FROM part WHERE p_size <= 5),
li AS (
  SELECT l_partkey AS p_partkey, l_suppkey, l_extendedprice / l_quantity AS unit_price
  FROM lineitem JOIN pk ON p_partkey = l_partkey
),
mn AS (SELECT p_partkey, min(unit_price) AS min_price FROM li GROUP BY 1),
ach AS (
  SELECT li.p_partkey, mn.min_price, min(li.l_suppkey) AS s_suppkey
  FROM li JOIN mn ON li.p_partkey = mn.p_partkey AND li.unit_price = mn.min_price
  GROUP BY li.p_partkey, mn.min_price
)
SELECT p_partkey, s_suppkey, s_name, floor(min_price * 10000 + 0.5) / 10000.0 AS min_unit_price
FROM ach JOIN supplier USING (s_suppkey)
ORDER BY p_partkey
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — group value vs a GLOBAL scalar (HAVING
    sum > fraction * grand total). The grand total is a 1-row
    aggregate broadcast into the filter (never a driver collect, never
    a single-partition window). Quantities are summed as BIGINT so the
    share threshold compares exact integers against one deterministic
    double — no parallel-float-sum ordering hazard on the HAVING
    boundary at any scale. The threshold is RELATIVE (1.5x the mean
    per-part volume) so selectivity is scale-invariant — an absolute
    fraction degenerates to all-pass or none-pass as the part count
    grows."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_quantity").cast("bigint").alias("qty")
    )
    per_part = li.groupBy("l_partkey").agg(F.sum("qty").alias("part_qty"))
    tot = per_part.agg(
        F.sum("part_qty").alias("total_qty"), F.count("*").alias("n_parts")
    )
    return (
        per_part.crossJoin(F.broadcast(tot))
        .filter(F.col("part_qty") > 1.5 * F.col("total_qty") / F.col("n_parts"))
        .select("l_partkey", "part_qty")
        .orderBy(F.col("part_qty").desc(), F.col("l_partkey").asc())
    )


SQL_Q11 = """
WITH per_part AS (
  SELECT l_partkey, sum(CAST(l_quantity AS BIGINT))::BIGINT AS part_qty
  FROM lineitem GROUP BY 1
)
SELECT l_partkey, part_qty
FROM per_part
WHERE part_qty > 1.5 * (SELECT sum(part_qty) FROM per_part) / (SELECT count(*) FROM per_part)
ORDER BY part_qty DESC, l_partkey ASC
"""


def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — supplier-variety count-distinct per part
    group, with a NOT-IN supplier exclusion list (the "customer
    complaints" analog: suppliers with balance under 1000) applied as a
    broadcast LEFT ANTI join, and dim-filter exclusions (brand/type)
    pushed to the part scan. The countDistinct shuffles (brand, size,
    suppkey) once; the anti join and the part join are both broadcast
    — the fact table is shuffled exactly once."""
    excl = _read(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 1000).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    p = _read(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45") & (F.col("p_type") != "PROMO")
    ).select("p_partkey", "p_brand", "p_size")
    li = _read(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_suppkey"
    )
    return (
        li.join(F.broadcast(p), "p_partkey")
        .join(F.broadcast(excl), "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), F.col("p_brand").asc(), F.col("p_size").asc())
    )


SQL_Q16 = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_size ASC
"""


# -------------------------------------------------------------- aggregates


def q_max_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: MAX(pk) per table (sequence SETVAL fix-up)."""
    return _read(spark, sf_dir, "orders").agg(F.max("o_orderkey").alias("max_pk"))


def q_validation_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/O9: all-rows-satisfy check as a violation count."""
    df = _read(spark, sf_dir, "customer")
    pred = F.col("c_name").contains("Customer#")
    return df.agg(F.sum(F.when(~F.coalesce(pred, F.lit(False)), 1).otherwise(0)).alias("violations"))


# ::BIGINT matters: DuckDB's sum() yields HUGEINT, which pandas renders as
# float64 and the driver's value-hash then diverges from Spark's bigint.
SQL_VALIDATION = "SELECT sum(CASE WHEN NOT coalesce(contains(c_name, 'Customer#'), false) THEN 1 ELSE 0 END)::BIGINT AS violations FROM customer"


_MIXTURE = {"en": 0.5, "de": 1.0, "fr": 0.25}  # zh/es dropped (allowlist)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture resampling over documents: per-language
    keep fractions decided by a hash threshold on doc_id — reproducible
    across runs, partitionings, and engines (unlike sampleBy's
    partition-local RNG), and a pure scan-side predicate."""
    from rustic_witcher_spark.operators.sampling import stratified_sample

    d = _read(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_sample(d, "doc_id", "lang", _MIXTURE)


def sql_stratified_sample() -> str:
    from rustic_witcher_spark.operators.sampling import sql_stratified_sample_predicate

    pred = sql_stratified_sample_predicate("doc_id", "lang", _MIXTURE)
    return f"SELECT doc_id, lang, source FROM documents WHERE {pred}"


def q_datadiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-vs-target table diff (the reference CLI's only_datadiff
    mode, src/main.rs:172): PK-keyed full-outer digest compare. The
    'target' here is a deterministic corruption of customer — rows
    dropped (%97), nulled balances (%50), synthetic extras (%89 shifted
    +1e6) — so every status branch is exercised."""
    from rustic_witcher_spark.operators.diff import table_diff

    c = F.col("c_custkey")
    src = _read(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    tgt = (
        src.filter(c % 97 != 0)
        .withColumn("c_acctbal", F.when(c % 50 == 0, F.lit(None)).otherwise(F.col("c_acctbal")))
        .unionByName(src.filter(c % 89 == 0).withColumn("c_custkey", c + 1000000))
    )
    return table_diff(src, tgt, ["c_custkey"])


SQL_DATADIFF = """
WITH src AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer),
tgt AS (
  SELECT c_custkey, c_name, CASE WHEN c_custkey % 50 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal, c_mktsegment
  FROM src WHERE c_custkey % 97 <> 0
  UNION ALL
  SELECT c_custkey + 1000000, c_name, c_acctbal, c_mktsegment FROM src WHERE c_custkey % 89 = 0
)
SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
       CASE WHEN t.c_custkey IS NULL THEN 'missing_in_target'
            WHEN s.c_custkey IS NULL THEN 'missing_in_source'
            ELSE 'mismatch' END AS status
FROM src s FULL OUTER JOIN tgt t ON s.c_custkey = t.c_custkey
WHERE t.c_custkey IS NULL OR s.c_custkey IS NULL
   OR s.c_name IS DISTINCT FROM t.c_name
   OR s.c_acctbal IS DISTINCT FROM t.c_acctbal
   OR s.c_mktsegment IS DISTINCT FROM t.c_mktsegment
"""


# ------------------------------------------------- analytics (TPC-H-shaped)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy group-by with 8 aggregates. Flagship.

    The summation-order-sensitive aggregates run on exact integers
    (the r12 audit class): avg_qty / avg_price / avg_disc accumulate
    integer quantity/cent sums, and sum_charge — whose true value
    carries 6 decimals, so round(.., 4) can land on an EXACT half —
    sums micro-dollar integers (cents · (100−disc₁₀₀) · (100+tax₁₀₀)).
    The final rounding is integer round-half-up, (2·p·10^s + q) div
    (2·q), NOT an engine round(): on an exactly-half true value the
    engines' round() implementations disagree about the bit-identical
    double (the lineitem_unpivot soak finding). The remaining sums are
    safe by construction: quantity sums are integer-valued (exact in
    any order), and the 2-/4-decimal sums (base price, disc price)
    differ from their exact rational by ~1e-9 while the nearest
    round-4 boundary is ≥ 5e-5 away, so rounding recovers the exact
    value on both engines."""
    li = _read(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    d100 = F.round(F.col("l_discount") * 100).cast("long")
    t100 = F.round(F.col("l_tax") * 100).cast("long")
    sums = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.sum(cents * (F.lit(100) - d100) * (F.lit(100) + t100)).alias("chm"),
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("sq"),
            F.count("l_quantity").alias("nq"),
            F.sum(cents).alias("sp"),
            F.count("l_extendedprice").alias("np"),
            F.sum(d100).alias("sd"),
            F.count("l_discount").alias("nd"),
            F.count("*").alias("count_order"),
        )
    )
    return sums.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        (F.expr("(2 * chm + 100) div 200") / F.lit(10000.0)).alias("sum_charge"),
        (F.expr("(2 * sq * 10000 + nq) div (2 * nq)") / F.lit(10000.0)).alias("avg_qty"),
        (F.expr("(2 * sp * 100 + np) div (2 * np)") / F.lit(10000.0)).alias("avg_price"),
        (F.expr("(2 * sd * 100 + nd) div (2 * nd)") / F.lit(10000.0)).alias("avg_disc"),
        "count_order",
    )


SQL_Q1 = """
WITH s AS (
  SELECT l_returnflag, l_linestatus,
    round(sum(l_quantity), 4) AS sum_qty,
    round(sum(l_extendedprice), 4) AS sum_base_price,
    round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
    sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        * (100 - CAST(round(l_discount * 100) AS BIGINT))
        * (100 + CAST(round(l_tax * 100) AS BIGINT)))::BIGINT AS chm,
    sum(CAST(round(l_quantity) AS BIGINT))::BIGINT AS sq, count(l_quantity)::BIGINT AS nq,
    sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS sp, count(l_extendedprice)::BIGINT AS np,
    sum(CAST(round(l_discount * 100) AS BIGINT))::BIGINT AS sd, count(l_discount)::BIGINT AS nd,
    count(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
  ((2 * chm + 100) // 200) / 10000.0 AS sum_charge,
  ((2 * sq * 10000 + nq) // (2 * nq)) / 10000.0 AS avg_qty,
  ((2 * sp * 100 + np) // (2 * np)) / 10000.0 AS avg_price,
  ((2 * sd * 100 + nd) // (2 * nd)) / 10000.0 AS avg_disc,
  count_order
FROM s
"""


def q3_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + group + top-N. The customer dim is
    broadcast (no shuffle for the small side)."""
    cust = _read(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    # join order matters at scale: reduce orders by the broadcast dim
    # FIRST (≈1/5 survive the segment filter), so the expensive
    # fact-fact shuffle join sees the smaller side — AQE can then even
    # demote it to a broadcast join when the reduction is strong.
    oc = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        li.join(oc, li.l_orderkey == oc.o_orderkey)
        .groupBy("o_orderkey", F.date_format("o_orderdate", _FMT).alias("o_orderdate_str"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


SQL_Q3 = f"""
SELECT o_orderkey, {_fmt_sql('o_orderdate')} AS o_orderdate_str,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join through two broadcast dims."""
    li = _read(spark, sf_dir, "lineitem")
    sup = _read(spark, sf_dir, "supplier")
    nat = _read(spark, sf_dir, "nation")
    reg = _read(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )


SQL_Q5 = """
SELECT r_name, n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join (customers with zero orders must
    appear), per-customer count, then the count-of-counts distribution.
    Two shuffles (custkey, then order_count) — both unavoidable."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_count"))  # count skips NULLs -> 0 for orderless
    )
    return per_cust.groupBy("order_count").agg(F.count("*").alias("n_customers"))


SQL_Q13 = """
SELECT order_count, count(*) AS n_customers FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS order_count
  FROM customer c LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
) GROUP BY order_count
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup (grouping sets) over order year/priority: subtotals and a
    grand total in one pass — Spark expands the sets before the single
    hash aggregate, so it stays one shuffle."""
    orders = _read(spark, sf_dir, "orders")
    return (
        orders.withColumn("o_year", F.year("o_orderdate").cast("int"))
        .rollup("o_year", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 4).alias("revenue"))
    )


SQL_ROLLUP = """
SELECT year(o_orderdate)::INT AS o_year, o_orderpriority,
       count(*) AS n_orders, round(sum(o_totalprice), 4) AS revenue
FROM orders GROUP BY ROLLUP (o_year, o_orderpriority)
"""


def q_distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate: exact count(DISTINCT partkey) per supplier
    nation — Spark plans the two-phase distinct-aggregate expansion."""
    li = _read(spark, sf_dir, "lineitem")
    sup = _read(spark, sf_dir, "supplier")
    nat = _read(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.count("*").alias("n_lineitems"),
        )
    )


SQL_DISTINCT_PARTS = """
SELECT n_name, count(DISTINCT l_partkey) AS distinct_parts, count(*) AS n_lineitems
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


def q_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-K per group."""
    cust = _read(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        cust.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("c_nationkey", "rank", "c_custkey", F.round("c_acctbal", 4).alias("acctbal"))
    )


SQL_TOP_CUSTOMERS = """
SELECT c_nationkey, rank, c_custkey, round(c_acctbal, 4) AS acctbal FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
  FROM customer)
WHERE rank <= 3
"""


# ----------------------------------------------------------- text analysis


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "documents")
    t = F.col("text")
    return df.select(
        "doc_id",
        text.token_count(t).alias("n_tokens"),
        text.char_count(t).alias("n_chars_actual"),
        text.punct_ratio(t).alias("punct_ratio"),
        text.stopword_ratio(t).alias("stopword_ratio"),
        text.quality_score(t).alias("quality"),
    )


def sql_text_stats() -> str:
    toks = _toks_sql("text")
    sw = "[" + ", ".join(f"'{w}'" for w in text.STOPWORDS_EN) + "]"
    n_punct = "(length(coalesce(text,'')) - length(regexp_replace(coalesce(text,''), '[!-/:-@\\[-`{-~]', '', 'g')))"
    punct_raw = f"(CASE WHEN length(coalesce(text,'')) = 0 THEN 0.0 ELSE {n_punct}::DOUBLE / length(coalesce(text,'')) END)"
    swr_raw = f"(CASE WHEN len({toks}) = 0 THEN 0.0 ELSE len(list_filter({toks}, t -> list_contains({sw}, t)))::DOUBLE / len({toks}) END)"
    # raw ratios composed, single final round — mirrors text.quality_score
    qual = (
        f"round(least(len({toks})::DOUBLE / 50.0, 1.0) * 0.4 "
        f"+ (1.0 - least({punct_raw} * 4, 1.0)) * 0.3 "
        f"+ least({swr_raw} * 5, 1.0) * 0.3, 6)"
    )
    return (
        f"SELECT doc_id, len({toks}) AS n_tokens, length(coalesce(text,'')) AS n_chars_actual, "
        f"round({punct_raw}, 6) AS punct_ratio, round({swr_raw}, 6) AS stopword_ratio, {qual} AS quality FROM documents"
    )


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _spread(spark, _read(spark, sf_dir, "documents"))
    return df.select("doc_id", "lang", text.lang_id(F.col("text")).alias("lang_pred"))


def sql_text_langid_expr() -> str:
    """The predicted-language SQL expression (argmax over marker hits,
    same strictly-greater tie-break as text.lang_id)."""
    toks = _toks_sql("text")
    scores = {}
    for lang, markers in text.LANG_MARKERS.items():
        m = "[" + ", ".join(f"'{w}'" for w in markers) + "]"
        scores[lang] = f"len(list_filter({toks}, t -> list_contains({m}, t)))"
    out_lang, out_score = "'und'", "0"
    for lang in text.LANG_MARKERS:
        cond = f"({scores[lang]}) > ({out_score})"
        out_lang = f"(CASE WHEN {cond} THEN '{lang}' ELSE {out_lang} END)"
        out_score = f"(CASE WHEN {cond} THEN ({scores[lang]}) ELSE ({out_score}) END)"
    return out_lang


def sql_text_langid() -> str:
    return f"SELECT doc_id, lang, {sql_text_langid_expr()} AS lang_pred FROM documents"


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "documents")
    return df.select("doc_id", dedup.text_digest(F.col("text")).alias("fp"))


def sql_text_fingerprint() -> str:
    return f"SELECT doc_id, {_SQL_DIGEST} AS fp FROM documents"


# ------------------------------------------------------------------- dedup


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "documents")
    return dedup.exact_dedup(df, "text", "doc_id").select("doc_id")


def sql_dedup_exact() -> str:
    return f"""
SELECT doc_id FROM (
  SELECT doc_id, row_number() OVER (PARTITION BY {_SQL_DIGEST} ORDER BY doc_id ASC) AS rn
  FROM documents)
WHERE rn = 1
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _spread(spark, _read(spark, sf_dir, "documents"))
    sig = dedup.minhash_signature(F.col("text"), num_perm=16, seed=SEED)
    # array_join references `sig` ONCE — element_at per position would
    # inline the whole signature expression 16× (no CSE in the
    # interpreted higher-order-function path): measured 3.2× slower.
    return df.select("doc_id", F.array_join(F.transform(sig, lambda x: x.cast("string")), ",").alias("sig"))


def sql_minhash_signatures() -> str:
    mins = [
        f"list_min(list_transform(base_h, h -> ({a} * h + {b}) % {MERSENNE_31}))::VARCHAR"
        for a, b in perm_params(16, SEED)
    ]
    sig = " || ',' || ".join(mins)
    return f"SELECT doc_id, {sig} AS sig FROM ({_sql_base_h('documents')})"


def q_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via banding + exact jaccard verification.

    Fully oracle-checked: banding, estimation, and verification are all
    deterministic, so the DuckDB twin reproduces the exact pair set."""
    df = _spread(spark, _read(spark, sf_dir, "documents"))
    cands = dedup.minhash_lsh_candidates(df, "text", "doc_id", num_perm=32, bands=8, seed=SEED, max_bucket_size=1 << 40)
    return dedup.verify_candidates_jaccard(cands, df, "text", "doc_id", threshold=0.5, k=5).select(
        "id_a", "id_b", F.round("est_jaccard", 4).alias("est_jaccard"), F.round("jaccard", 4).alias("jaccard")
    )


def _sql_minhash_sig_array(num_perm: int, src: str = "documents") -> str:
    """DuckDB twin of minhash_signature as a list-typed column.

    ``src`` lets the PAIR twins drop NULL-text docs
    (minhash_lsh_candidates does structurally on the Spark side — no
    content, no signature); the per-doc signatures entry keeps every
    row on both engines."""
    mins = ", ".join(
        f"list_min(list_transform(base_h, h -> ({a} * h + {b}) % {MERSENNE_31}))"
        for a, b in perm_params(num_perm, SEED)
    )
    return f"SELECT doc_id, [{mins}] AS sig FROM ({_sql_base_h(src)})"


def sql_minhash_lsh_candidates(num_perm: int = 32, bands: int = 8, threshold: float = 0.5) -> str:
    shingles = (
        f"SELECT doc_id, {_SQL_CHAR5_SHINGLES} AS sh "
        f"FROM (SELECT doc_id, {_norm_sql('text')} AS n FROM (SELECT * FROM documents WHERE text IS NOT NULL))"
    )
    return f"""
WITH sig AS ({_sql_minhash_sig_array(num_perm, src='(SELECT * FROM documents WHERE text IS NOT NULL)')}),
shg AS ({shingles}),
{_sql_lsh_bands(num_perm, bands)},
{_SQL_LSH_PAIRS},
est AS (
  SELECT p.id_a, p.id_b,
         len(list_filter(generate_series(1, {num_perm}), i -> sa.sig[i] = sb.sig[i])) / {num_perm}.0 AS est_jaccard
  FROM pairs p JOIN sig sa ON sa.doc_id = p.id_a JOIN sig sb ON sb.doc_id = p.id_b
),
j AS (
  SELECT e.id_a, e.id_b, e.est_jaccard,
         CASE WHEN len(list_distinct(list_concat(ha.sh, hb.sh))) = 0 THEN 1.0
              ELSE len(list_intersect(ha.sh, hb.sh)) / len(list_distinct(list_concat(ha.sh, hb.sh))) END AS jaccard
  FROM est e JOIN shg ha ON ha.doc_id = e.id_a JOIN shg hb ON hb.doc_id = e.id_b
)
SELECT id_a, id_b, round(est_jaccard, 4) AS est_jaccard, round(jaccard, 4) AS jaccard
FROM j WHERE jaccard >= {threshold}
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # text IS NOT NULL: a doc with no content has no fingerprint —
    # the oracle's unnest(NULL) drops such rows structurally, so the
    # Spark face must say so explicitly (dirty-corpus fuzz, r9)
    df = _spread(spark, _read(spark, sf_dir, "documents")).filter(F.col("text").isNotNull())
    return df.select("doc_id", dedup.simhash64(F.col("text"), SEED).alias("simhash"))


def sql_simhash() -> str:
    # empty-array edge: Spark splits '' -> [''] inside simhash64 (it uses
    # split directly), so mirror with string_split (never empty list)
    toks = f"string_split({_norm_sql('text')}, ' ')"
    hv = f"({sql_hash64('t', SEED, 'simhash')})"
    bit_terms = []
    for j in range(63):
        s = f"sum(CASE WHEN ({hv} & {1 << j}) <> 0 THEN 1 ELSE -1 END)"
        bit_terms.append(f"(CASE WHEN {s} > 0 THEN {1 << j}::BIGINT ELSE 0 END)")
    total = " + ".join(bit_terms)
    return (
        f"SELECT doc_id, ({total}) AS simhash FROM "
        f"(SELECT doc_id, unnest({toks}) AS t FROM documents WHERE text IS NOT NULL) GROUP BY doc_id"
    )


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT hamming-≤3 SimHash pairs via 4-band pigeonhole blocking —
    no O(n²) cross join on the Spark side; the DuckDB oracle IS the
    brute-force all-pairs, so the test proves the banding is lossless.
    The bucket cap is lifted here because this entry's contract is
    oracle-exactness at any SF; production callers keep the operator's
    scale-guard default."""
    df = _spread(spark, _read(spark, sf_dir, "documents"))
    return dedup.simhash_near_duplicates(df, "text", "doc_id", seed=SEED, max_hamming=3, max_bucket_size=1 << 40)


def sql_simhash_near_dups() -> str:
    sims = sql_simhash()
    return (
        f"WITH s AS ({sims}) "
        f"SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        f"bit_count(xor(a.simhash, b.simhash))::INT AS hamming "
        f"FROM s a JOIN s b ON a.doc_id < b.doc_id "
        f"WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assembly: connected components over the
    simhash hamming-≤3 pair graph — every doc labeled with its
    cluster's min doc_id (singletons label themselves). Iterative
    min-label propagation, one shuffle per round, lineage checkpointed
    (operators/cluster.py); the oracle is a DuckDB recursive CTE."""
    from rustic_witcher_spark.operators.cluster import connected_components

    df = _spread(spark, _read(spark, sf_dir, "documents"))
    edges = dedup.simhash_near_duplicates(df, "text", "doc_id", seed=SEED, max_hamming=3, max_bucket_size=1 << 40)
    nodes = df.select("doc_id")
    return connected_components(nodes, edges, "doc_id").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def sql_dedup_clusters() -> str:
    from rustic_witcher_spark.operators.cluster import sql_connected_components

    inner = sql_connected_components(
        "SELECT doc_id AS node FROM documents",
        sql_simhash_near_dups(),
    )
    return f"SELECT node AS doc_id, component AS cluster_id FROM ({inner})"


def q_ngram_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-5-gram Jaccard between consecutive doc ids.

    Shingle arrays are materialized ONCE per doc behind a projection
    boundary — inlining ``ngram_jaccard(text_a, text_b)`` after a join
    re-runs the (interpreted, HOF) shingle pass four times per pair:
    measured 70× slower. Pairing is an explode-to-membership + ONE
    groupBy shuffle (each doc emits itself to pair keys doc_id and
    doc_id-1), not a self-join — a self-join shuffles the shingle
    payload twice AND computes the shingle subplan twice (the two
    sides' exchanges differ, so no ReusedExchange)."""
    d = _spread(spark, _read(spark, sf_dir, "documents")).select(
        "doc_id", dedup.char_shingles(F.col("text"), 5).alias("sh")
    )
    memberships = F.array(
        F.struct(F.col("doc_id").alias("key"), F.lit("a").alias("role")),
        F.struct((F.col("doc_id") - 1).alias("key"), F.lit("b").alias("role")),
    )
    ex = d.select("doc_id", "sh", F.explode(memberships).alias("m")).select(
        F.col("m.key").alias("id_a"), F.col("m.role").alias("role"), "doc_id", "sh"
    )
    grp = ex.groupBy("id_a").agg(F.collect_list(F.struct("role", "doc_id", "sh")).alias("mem")).filter(F.size("mem") == 2)
    pick = lambda role: F.element_at(F.filter(F.col("mem"), lambda m: m["role"] == role), 1)  # noqa: E731
    paired = grp.select("id_a", pick("b")["doc_id"].alias("id_b"), pick("a")["sh"].alias("sh_a"), pick("b")["sh"].alias("sh_b"))
    jac = dedup._set_jaccard(F.col("sh_a"), F.col("sh_b"))
    return paired.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))


SQL_NGRAM_JACCARD = f"""
WITH s AS (
  SELECT doc_id,
         {_SQL_CHAR5_SHINGLES} AS sh
  FROM (SELECT doc_id, {_norm_sql('text')} AS n FROM documents)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 1.0
             ELSE len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) END, 4) AS jaccard
FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
"""


def q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy-hitters: explode tokens → count → top-50.
    The explode fans out to one row per token, but map-side partial
    aggregation collapses each partition's counts BEFORE the one
    shuffle, so the exchange carries (term, partial_count) — bounded by
    vocabulary size, not token count."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    return (
        d.select(F.explode(text.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(50)
    )


def sql_vocab_top_terms() -> str:
    return (
        f"SELECT term, count(*) AS n FROM ("
        f"SELECT unnest({_toks_sql('text')}) AS term FROM documents) "
        "GROUP BY term ORDER BY n DESC, term ASC LIMIT 50"
    )


_ZIPF_TOP = 100


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health statistic every tokenizer/sampling decision leans
    on: the Zipf exponent — an OLS fit of ln(frequency) on ln(rank)
    over the top-100 terms, with R² as the fit quality (natural text
    sits near slope −1; templated/generated corpora flatten, spam
    steepens). Plan: one map-side-combinable term count, a
    TakeOrderedAndProject top-100 (per-partition top-k then merge — no
    global sort), rank + the five OLS moment sums over exactly 100
    rows, closed-form slope/intercept/R². try_divide guards the
    degenerate fits a dirty corpus can produce (single-term vocabulary
    → zero x-variance; uniform counts → zero y-variance), matching the
    twin's nullif."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    top = (
        d.select(F.explode(text.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(_ZIPF_TOP)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    xy = top.withColumn("r", F.row_number().over(w)).select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    m = xy.agg(
        F.count("*").cast("double").alias("cnt"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = F.try_divide(
        F.col("cnt") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.col("cnt") * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    r2 = F.try_divide(
        (F.col("cnt") * F.col("sxy") - F.col("sx") * F.col("sy"))
        * (F.col("cnt") * F.col("sxy") - F.col("sx") * F.col("sy")),
        (F.col("cnt") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("cnt") * F.col("syy") - F.col("sy") * F.col("sy")),
    )
    return m.select(
        F.col("cnt").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("cnt"), 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def sql_zipf_fit(top: int = _ZIPF_TOP) -> str:
    """DuckDB twin of ``q_zipf_fit`` — the identical moment sums and
    closed forms (nullif where Spark try_divides)."""
    return f"""
WITH tc AS (
  SELECT term, count(*) AS n
  FROM (SELECT unnest({_toks_sql('text')}) AS term FROM documents)
  GROUP BY term ORDER BY n DESC, term ASC LIMIT {top}
),
xy AS (
  SELECT ln(row_number() OVER (ORDER BY n DESC, term ASC)::DOUBLE) AS x,
         ln(n::DOUBLE) AS y
  FROM tc
),
m AS (
  SELECT count(*)::DOUBLE AS cnt, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM xy
)
SELECT cnt::BIGINT AS n_terms,
       round((cnt * sxy - sx * sy) / nullif(cnt * sxx - sx * sx, 0), 6) AS slope,
       round((sy - ((cnt * sxy - sx * sy) / nullif(cnt * sxx - sx * sx, 0)) * sx) / cnt, 6) AS intercept,
       round(((cnt * sxy - sx * sy) * (cnt * sxy - sx * sy)) /
             nullif((cnt * sxx - sx * sx) * (cnt * syy - sy * sy), 0), 6) AS r2
FROM m
"""


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID quality audit: predicted (marker heuristic) vs the
    corpus's labeled lang — the confusion matrix a curation pipeline
    monitors when routing documents by language."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    return (
        d.select(F.col("lang").alias("labeled"), text.lang_id(F.col("text")).alias("predicted"))
        .groupBy("labeled", "predicted")
        .agg(F.count("*").alias("n"))
    )


def sql_langid_confusion() -> str:
    pred = sql_text_langid_expr()
    return (
        f"SELECT lang AS labeled, {pred} AS predicted, count(*) AS n "
        "FROM documents GROUP BY 1, 2"
    )


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens_ws"),
        text.bpe_token_count(F.col("text")).alias("n_tokens_bpe"),
    )


def sql_token_count_bpe() -> str:
    pat = text.BPE_PATTERN.replace("'", "''")
    norm = f"coalesce({_norm_sql('text')}, '')"
    return (
        f"SELECT doc_id, len({_toks_sql('text')}) AS n_tokens_ws, "
        f"len(regexp_extract_all({norm}, '{pat}')) AS n_tokens_bpe FROM documents"
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms: tf·(ln((N+1)/(df+1))+1) with
    smooth idf. Shapes: one explode → (doc,term) count (map-side
    combined), doc-frequency aggregate joined back on term, corpus
    size N attached via a broadcast scalar (no driver-side .count()
    baked into the plan), per-doc top-k window. At 100 TB the
    term-join shuffles on term — vocabulary-sized, not corpus-sized."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n"))
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("weight", F.round(F.col("tf") * (F.log((F.col("n") + 1) / (F.col("df") + 1)) + 1), 6))
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("weight").desc(), F.col("term").asc())
    return (
        w.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "weight", "rank")
    )


def sql_tfidf_top_terms() -> str:
    return f"""
WITH toks AS (SELECT doc_id, unnest({_toks_sql('text')}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
w AS (
  SELECT doc_id, term, round(tf * (ln((n + 1)::DOUBLE / (df + 1)) + 1), 6) AS weight
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, weight, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, term ASC) AS rank FROM w)
WHERE rank <= 3
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality heuristics: mean word length, alphabetic
    word fraction, repetition signals (top token / top bigram
    fraction). Pure expressions, scan speed; the repetition mode is a
    one-pass max-run over the sorted gram array — no explode, no
    shuffle (operators/quality.py)."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    return quality.quality_profile(d, "text", "doc_id")


def sql_doc_quality() -> str:
    # the oracle computes the repetition mode via unnest+group — a
    # different plan producing the same value is exactly what makes it
    # an oracle
    return f"""
WITH toks AS (SELECT doc_id, {_toks_sql('text')} AS t FROM documents),
tu AS (SELECT doc_id, unnest(t) AS tok FROM toks),
tc AS (SELECT doc_id, tok, count(*) AS n FROM tu GROUP BY 1, 2),
tf AS (SELECT doc_id, max(n)::DOUBLE / sum(n) AS f FROM tc GROUP BY 1),
bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g FROM toks, unnest(range(1, len(t))) AS r(i)),
bc AS (SELECT doc_id, g, count(*) AS n FROM bg GROUP BY 1, 2),
bf AS (SELECT doc_id, max(n)::DOUBLE / sum(n) AS f FROM bc GROUP BY 1)
SELECT toks.doc_id,
       round(coalesce(list_sum(list_transform(t, x -> length(x)))::DOUBLE / nullif(len(t), 0), 0), 6) AS mean_word_len,
       round(coalesce(len(list_filter(t, x -> regexp_full_match(x, '[a-z]+')))::DOUBLE / nullif(len(t), 0), 0), 6) AS alpha_word_frac,
       round(coalesce(tf.f, 0), 6) AS top_token_frac,
       round(coalesce(bf.f, 0), 6) AS top_bigram_frac
FROM toks LEFT JOIN tf USING (doc_id) LEFT JOIN bf USING (doc_id)
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over free text — the anonymization engine's analogue
    for unstructured columns: typed placeholders for emails / IPv4 /
    intl-format phones, plus per-kind audit counts."""
    d = _read(spark, sf_dir, "documents")
    t = F.col("text")
    counts = quality.pii_counts(t)
    return d.select(
        "doc_id",
        quality.pii_redact(t).alias("clean_text"),
        counts["email"].alias("n_email"),
        counts["ip"].alias("n_ip"),
        counts["phone"].alias("n_phone"),
    )


def sql_pii_redact() -> str:
    cnt = quality.sql_pii_counts("text")
    return (
        f"SELECT doc_id, {quality.sql_pii_redact('text')} AS clean_text, "
        f"{cnt['email']} AS n_email, {cnt['ip']} AS n_ip, {cnt['phone']} AS n_phone "
        "FROM documents"
    )


# -------------------------------------------------------------- similarity


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — exact, via the
    distributed block-pair matmul of similarity.cosine_near_dup_pairs
    (no driver collect)."""
    return similarity.cosine_near_dup_pairs(_read(spark, sf_dir, "embeddings"), threshold=0.4)


SQL_EMBEDDING_NEAR_DUPS = """
WITH src AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
  FROM src a JOIN src b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, sim FROM p WHERE sim >= 0.4
"""


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.brute_force_topk(emb, queries, k=5).select("query_id", "neighbor_id", "rank", "sim")


SQL_KNN = """
WITH q AS MATERIALIZED (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 5 AND embedding IS NOT NULL),
c AS MATERIALIZED (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings WHERE embedding IS NOT NULL),
s AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(qv::DOUBLE[], cv::DOUBLE[]) /
               (sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) * sqrt(list_dot_product(cv::DOUBLE[], cv::DOUBLE[]))), 6) AS sim
  FROM c, q WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM s WHERE sim IS NOT NULL AND NOT isnan(sim))
WHERE rank <= 5
"""


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via hyperplane-LSH buckets. Approximate vs brute force, but
    DETERMINISTIC (md5-derived plane weights), so the DuckDB oracle
    reproduces the exact bucket assignment and result set."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.lsh_topk(emb, queries, dim=64, k=5, n_planes=8).select("query_id", "neighbor_id", "rank", "sim")


def sql_knn_lsh(n_planes: int = 8, dim: int = 64, k: int = 5) -> str:
    """DuckDB twin of lsh_topk: inline the ±1 plane weights as literal
    sum chains (same left-assoc order as the Spark expression, so the
    sign tests agree bit-for-bit)."""
    plane_bits = []
    for p in range(n_planes):
        terms = " + ".join(
            f"embedding[{i + 1}]::DOUBLE * {float(similarity.plane_weight(SEED, p, i))}" for i in range(dim)
        )
        plane_bits.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << p}::BIGINT ELSE 0 END)")
    sig = " + ".join(plane_bits)
    return f"""
WITH s AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
sg AS (SELECT vec_id, embedding, ({sig}) AS sig FROM s),
q AS (SELECT vec_id AS query_id, embedding AS qv, sig FROM sg WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, sig FROM sg),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(qv::DOUBLE[], cv::DOUBLE[]) /
               (sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) * sqrt(list_dot_product(cv::DOUBLE[], cv::DOUBLE[]))), 6) AS sim
  FROM c JOIN q USING (sig) WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored WHERE sim IS NOT NULL AND NOT isnan(sim))
WHERE rank <= {k}
"""


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via IVF inverted lists: deterministic
    hash-sampled centroids + 1 Lloyd step, nprobe=2. Approximate vs
    brute force but fully deterministic, so the DuckDB twin replays the
    identical seed → Lloyd → probe pipeline and the result is
    value-hash-checked like any exact query."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_topk(emb, queries, k=5, n_clusters=8, nprobe=2, iters=1).select(
        "query_id", "neighbor_id", "rank", "sim"
    )


_SQL_IVF_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


# the trainers' row filter, ``similarity._trainable``: NULL, NaN, ±inf
# and overflowing vectors fail it (DuckDB orders NaN above every value)
_SQL_TRAINABLE = "list_dot_product({v}, {v}) < 'Infinity'::DOUBLE"


def _sql_ivf_cent1_ctes(n_clusters: int, dim: int, seed: int, train_pred: str = "TRUE") -> str:
    """Shared CTE skeleton replaying ``similarity.ivf_centroids``
    (iters=1): md5-seeded centroid sample + one Lloyd step
    (nearest-centroid assignment → per-position mean → list rebuild).
    Embedded by BOTH sql_knn_ivf and sql_semdedup so the two oracles
    cannot drift from each other; defines CTEs corpus/train/seeds/
    cent0/a0/m0/cent1 (cent1 = (cid, cvec)). The seed sample and the
    Lloyd assignment read ``train``: the ``_SQL_TRAINABLE`` rows of the
    corpus that pass ``train_pred`` (r10), which restricts the
    TRAINING corpus without touching downstream consumers — the
    ann_incremental twin trains on the base split while
    assigning/scoring the full corpus, exactly like the streaming
    appender's frozen-codebook contract."""
    cos = _SQL_IVF_COS
    return f"""corpus AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
train AS (SELECT vec_id, v FROM corpus WHERE {train_pred} AND {_SQL_TRAINABLE.format(v='v')}),
seeds AS (
  SELECT vec_id, v, md5('{seed}|ivf|' || vec_id::VARCHAR) AS r
  FROM train ORDER BY r, vec_id LIMIT {n_clusters}
),
cent0 AS (SELECT row_number() OVER (ORDER BY r, vec_id) AS cid, v AS cvec FROM seeds),
a0 AS (
  SELECT c.vec_id, c.v, k.cid,
         row_number() OVER (PARTITION BY c.vec_id
                            ORDER BY {cos.format(a='c.v', b='k.cvec')} DESC, k.cid ASC) AS rn
  FROM train c CROSS JOIN cent0 k
),
m0 AS (SELECT cid, v FROM a0 WHERE rn = 1),
cent1 AS (
  SELECT cid, list(m ORDER BY pos) AS cvec FROM (
    SELECT cid, pos, avg(v[pos]) AS m
    FROM m0 CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS pos)
    GROUP BY cid, pos
  ) GROUP BY cid
)"""


_SQL_PQ_SQD = (
    "(list_dot_product({a}, {a}) - 2.0 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b}))"
)


def _sql_pq_cb1_ctes(
    src: str, vec: str, n_subspaces: int, n_codes: int, d_sub: int, seed: int, p: str = "p", train_pred: str = "TRUE"
) -> str:
    """Shared CTE skeleton replaying ``pq.pq_codebooks`` (iters=1) over
    ``src`` (vec_id, ``vec``): the md5-ordered seed sample sliced into
    every subspace, one Lloyd step (argmin squared-L2 assignment →
    per-position mean → list rebuild), then the encode against the
    trained codebook. Defines CTEs ms and ``p``-prefixed train/seeds/
    cb0/sub/a0/w0/cb1/a1 (cb1 = (m, cid, cvec); a1 rows with rn = 1 are
    the codes). The squared distance uses the dot-product
    decomposition of ``pq._sq_dist`` so assignment tie-breaks agree
    bit-for-bit. The seed sample and the Lloyd assignment read
    ``train``: the ``_SQL_TRAINABLE`` rows of ``src`` that pass
    ``train_pred``, which restricts the TRAINING rows while a1 still
    encodes all of ``src`` — the ann_incremental twin's
    frozen-codebook contract, as in ``_sql_ivf_cent1_ctes``."""
    sqd = _SQL_PQ_SQD
    return f"""ms AS (SELECT unnest(range(0, {n_subspaces})) AS m),
{p}train AS (SELECT vec_id, {vec} FROM {src} WHERE {train_pred} AND {_SQL_TRAINABLE.format(v=vec)}),
{p}seeds AS (
  SELECT vec_id, {vec}, md5('{seed}|pq|' || vec_id::VARCHAR) AS r
  FROM {p}train ORDER BY r, vec_id LIMIT {n_codes}
),
{p}cb0 AS (
  SELECT ms.m, s.cid, list_slice(s.{vec}, ms.m * {d_sub} + 1, ms.m * {d_sub} + {d_sub}) AS cvec
  FROM (SELECT row_number() OVER (ORDER BY r, vec_id) AS cid, {vec} FROM {p}seeds) s CROSS JOIN ms
),
{p}sub AS (
  SELECT c.vec_id, ms.m, list_slice(c.{vec}, ms.m * {d_sub} + 1, ms.m * {d_sub} + {d_sub}) AS sv
  FROM {src} c CROSS JOIN ms
),
{p}a0 AS (
  SELECT vec_id, m, sv, cid,
         row_number() OVER (PARTITION BY vec_id, m
                            ORDER BY {sqd.format(a='sv', b='cvec')} ASC, cid ASC) AS rn
  FROM {p}sub JOIN {p}cb0 USING (m) WHERE vec_id IN (SELECT vec_id FROM {p}train)
),
{p}w0 AS (SELECT vec_id, m, sv, cid FROM {p}a0 WHERE rn = 1),
{p}cb1 AS (
  SELECT m, cid, list(mv ORDER BY pos) AS cvec FROM (
    SELECT m, cid, pos, avg(sv[pos]) AS mv
    FROM {p}w0 CROSS JOIN (SELECT unnest(range(1, {d_sub + 1})) AS pos)
    GROUP BY m, cid, pos
  ) GROUP BY m, cid
),
{p}a1 AS (
  SELECT vec_id, m, cid,
         row_number() OVER (PARTITION BY vec_id, m
                            ORDER BY {sqd.format(a='sv', b='cvec')} ASC, cid ASC) AS rn
  FROM {p}sub JOIN {p}cb1 USING (m)
)"""


def sql_knn_ivf(n_clusters: int = 8, nprobe: int = 2, k: int = 5, dim: int = 64, seed: int = 42) -> str:
    """DuckDB twin of ``similarity.ivf_topk(iters=1)``: the shared
    seed/Lloyd skeleton (``_sql_ivf_cent1_ctes``), nprobe probing,
    exact re-rank inside the probed inverted lists. The cosine uses the
    same explicit dot/norm fold as SQL_KNN so scores match Spark's
    bit-for-bit after 6-dp rounding."""
    cos = _SQL_IVF_COS
    return f"""
WITH {_sql_ivf_cent1_ctes(n_clusters, dim, seed)},
q AS (SELECT vec_id, v FROM corpus WHERE vec_id < 5),
inv AS (
  SELECT cid, vec_id AS neighbor_id, v AS cv FROM (
    SELECT c.vec_id, c.v, k.cid,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {cos.format(a='c.v', b='k.cvec')} DESC, k.cid ASC) AS rn
    FROM corpus c CROSS JOIN cent1 k)
  WHERE rn = 1
),
probes AS (
  SELECT cid, vec_id AS query_id, v AS qv FROM (
    SELECT q.vec_id, q.v, k.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {cos.format(a='q.v', b='k.cvec')} DESC, k.cid ASC) AS rn
    FROM q CROSS JOIN cent1 k)
  WHERE rn <= {nprobe}
),
s AS (
  SELECT query_id, neighbor_id, round({cos.format(a='qv', b='cv')}, 6) AS sim
  FROM inv JOIN probes USING (cid)
  WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM s WHERE sim IS NOT NULL AND NOT isnan(sim))
WHERE rank <= {k}
"""


def q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (operators/pq.py): train 16x16 subspace
    codebooks (md5-seeded + 1 Lloyd step), encode the corpus to 16
    4-bit codes (16x smaller than the float32 vectors), score queries
    against the CODES via the ADC numpy block kernel — the registered
    path IS the 100 TB path (the kernel fancy-indexes per-query lookup
    tables broadcast once per executor; the corpus scan reads codes
    only and never shuffles).

    16 subspaces (4-dim each): the synthetic embeddings are near-pure
    noise (same-label mean cosine 0.02), so quantization error per
    subspace dominates recall — more, smaller subspaces is the right
    trade on unstructured data (measured recall@5 vs brute force:
    4x8 0.10, 8x16 0.20, 16x16 0.38 on sf0.001; clustered data recalls
    ~1.0 — see tests/test_pq.py).

    Fully deterministic, so the DuckDB twin replays the identical
    train -> encode -> reconstruct -> cosine pipeline."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return pq.pq_topk(emb, queries, k=5, n_subspaces=16, n_codes=16, dim=64, iters=1).select(
        "query_id", "neighbor_id", "rank", "sim"
    )


def sql_pq_ann_topk(
    n_subspaces: int = 16, n_codes: int = 16, dim: int = 64, k: int = 5, seed: int = 42
) -> str:
    """DuckDB twin of ``pq.pq_topk``: the shared PQ train/encode
    skeleton (``_sql_pq_cb1_ctes``, unprefixed), codeword-concat
    reconstruction, cosine re-rank."""
    d_sub = dim // n_subspaces
    cos = _SQL_IVF_COS
    return f"""
WITH corpus AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
{_sql_pq_cb1_ctes('corpus', 'v', n_subspaces, n_codes, d_sub, seed, p='')},
recon AS (
  SELECT c.vec_id, flatten(list(b.cvec ORDER BY c.m)) AS rv
  FROM (SELECT vec_id, m, cid FROM a1 WHERE rn = 1) c
  JOIN cb1 b USING (m, cid)
  GROUP BY c.vec_id
),
q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 5),
s AS (
  SELECT query_id, r.vec_id AS neighbor_id, round({cos.format(a='qv', b='r.rv')}, 6) AS sim
  FROM recon r CROSS JOIN q
  WHERE query_id <> r.vec_id
)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM s WHERE sim IS NOT NULL AND NOT isnan(sim))
WHERE rank <= {k}
"""


def q_ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ ANN (pq.ivfpq_topk) — the r8 verdict's task 3
    and the shape you'd actually run at 100 TB: coarse-quantize into 8
    inverted lists (the exact md5-seeded + 1-Lloyd skeleton `knn_ivf`
    twins), PQ-encode to 16x16 codes (the exact pipeline `pq_ann_topk`
    twins), then ADC-score each query against ONLY its nprobe=2 probed
    lists via the block kernel's probe mask. Scan per query batch =
    nprobe/n_clusters of a codes table that is already 16x smaller
    than the vectors — multiplicative pruning from the two stages.

    The oracle splices the two shared training skeletons
    (`_sql_ivf_cent1_ctes` + `_sql_pq_cb1_ctes`, the latter
    p-prefixed) and joins candidates through
    the probed lists — so this entry can only be green if both parent
    derivations AND their composition agree.

    Bench conflation (r9 verdict, documented per its task 4): this
    TIMED entry re-trains the coarse centroids AND the PQ codebooks
    per run — two extra corpus reads the DuckDB twin amortizes more
    cheaply in-process, which is why it sits ~2.4× its twin at sf0.1.
    The 100 TB answer is the persisted-index steady state, and as of
    r10 that shape is itself a driver-graded entry with its own twin:
    `pq_index_query` (build once, then codebook-read + bounded probe
    collect + cid-partition-pruned ADC). This entry stays as the
    train+encode+query composition gate; `pq_index_query` is the
    query-cost gate."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return pq.ivfpq_topk(
        emb, queries, k=5, n_clusters=8, nprobe=2, n_subspaces=16, n_codes=16, dim=64, iters=1
    ).select("query_id", "neighbor_id", "rank", "sim")


def sql_ivfpq_ann_topk(
    n_clusters: int = 8,
    nprobe: int = 2,
    n_subspaces: int = 16,
    n_codes: int = 16,
    dim: int = 64,
    k: int = 5,
    seed: int = 42,
) -> str:
    """DuckDB twin of ``pq.ivfpq_topk``: the shared IVF cent1 skeleton
    (corpus/seeds/cent0/a0/m0/cent1 — verbatim `_sql_ivf_cent1_ctes`,
    same CTEs as sql_knn_ivf) + the PQ train/encode skeleton
    (``_sql_pq_cb1_ctes``, ``p``-prefixed) and reconstruction, then:
    inv = each corpus vector's nearest coarse list, probes = each
    query's nprobe nearest lists, candidates = inv ⨝ probes on cid,
    scored against the PQ reconstruction (ADC ≡ reconstructed cosine)."""
    d_sub = dim // n_subspaces
    cos = _SQL_IVF_COS
    return f"""
WITH {_sql_ivf_cent1_ctes(n_clusters, dim, seed)},
pcorpus AS (SELECT vec_id, v FROM corpus WHERE v IS NOT NULL),
{_sql_pq_cb1_ctes('pcorpus', 'v', n_subspaces, n_codes, d_sub, seed)},
recon AS (
  SELECT c.vec_id, flatten(list(b.cvec ORDER BY c.m)) AS rv
  FROM (SELECT vec_id, m, cid FROM pa1 WHERE rn = 1) c
  JOIN pcb1 b USING (m, cid)
  GROUP BY c.vec_id
),
inv AS (
  SELECT cid, vec_id AS neighbor_id FROM (
    SELECT c.vec_id, k.cid,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {cos.format(a='c.v', b='k.cvec')} DESC, k.cid ASC) AS rn
    FROM corpus c CROSS JOIN cent1 k)
  WHERE rn = 1
),
probes AS (
  SELECT cid, vec_id AS query_id, v AS qv FROM (
    SELECT q.vec_id, q.v, k.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {cos.format(a='q.v', b='k.cvec')} DESC, k.cid ASC) AS rn
    FROM (SELECT vec_id, v FROM corpus WHERE vec_id < 5) q CROSS JOIN cent1 k)
  WHERE rn <= {nprobe}
),
s AS (
  SELECT query_id, neighbor_id, round({cos.format(a='qv', b='r.rv')}, 6) AS sim
  FROM probes JOIN inv USING (cid) JOIN recon r ON r.vec_id = inv.neighbor_id
  WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM s WHERE sim IS NOT NULL AND NOT isnan(sim))
WHERE rank <= {k}
"""


def _pq_index_dir(sf_dir: str) -> str:
    """Content-keyed cache dir for the persisted IVF-PQ index of one
    corpus: absolute embeddings path + layout mtime + geometry, so a
    rewritten corpus (test fixtures, dirty-fuzz tmp dirs) gets a fresh
    build while repeated invocations on the static testdata reuse it."""
    p = os.path.abspath(os.path.join(sf_dir, "embeddings.parquet"))
    try:
        mt = str(int(os.path.getmtime(p)))
    except OSError:
        mt = "0"
    key = hashlib.md5(f"{p}|{mt}|16x16x64c8n2".encode()).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), "rw_spark_pq_index", key)


def _pid_running(name: str) -> bool:
    """Whether ``name`` is the pid of a process that still runs."""
    try:
        os.kill(int(name), 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # it runs, as another user
        pass
    return True


def _fresh_workdir(tag: str) -> str:
    """A fresh mkdtemp under ``<tmp>/rw_spark_<tag>/<pid>`` for one
    invocation of a streaming/incremental entry. Fresh, because a
    reused dir's replay cursor or checkpoint would skip batches as
    already processed. This process's dir and those of pids that no
    longer run are wiped first, so repeated bench passes do not
    accumulate; a live process's dir is never touched, so two
    processes running the same entry at once keep their checkpoints.
    Each entry owns its own tag, so entries running concurrently in
    one process never wipe each other's scratch space either."""
    parent = os.path.join(tempfile.gettempdir(), f"rw_spark_{tag}")
    own = str(os.getpid())
    os.makedirs(parent, exist_ok=True)
    for name in os.listdir(parent):
        if name.isdigit() and (name == own or not _pid_running(name)):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
    os.makedirs(os.path.join(parent, own), exist_ok=True)
    return tempfile.mkdtemp(dir=os.path.join(parent, own))


def q_pq_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state ANN: partition-pruned ADC query against a
    PRE-BUILT persisted IVF-PQ index (pq.pq_write_index →
    pq.pq_query_index, pq.py:448) — the r9 verdict's task 4: the
    100 TB query shape ITSELF under the driver gate, where
    `ivfpq_ann_topk` keeps grading the composed one-shot
    train+encode+query conflation. The index (16x16 codebooks,
    coarse=8 cid-partitioned codes) is built once per corpus into a
    content-keyed cache dir and REUSED across invocations: steady
    state touches only the `_codebooks` read (KBs), the |q|×nprobe
    probe assignment (bounded collect), and the nprobe/8 of the codes
    partitions the probe selects — partition pruning on `cid`, the
    scan shape that holds at 100 TB (codes are 16× smaller than the
    vectors and only probed lists' files open).

    The DuckDB twin replays the full deterministic
    train→encode→probe→ADC derivation from the base table
    (sql_ivfpq_ann_topk's CTE chain — the persisted index is exactly
    that pipeline's fixpoint), so parity proves the persisted path
    computes the same answer as the from-scratch composition. The
    bench-ratio asymmetry is therefore IN THE TWIN'S FAVOR on first
    build and in ours at steady state — which is the honest framing:
    bench best-of-2 reports the second (steady-state) pass."""
    idx = _pq_index_dir(sf_dir)
    if not os.path.exists(os.path.join(idx, "codes", "_SUCCESS")):
        emb = _read(spark, sf_dir, "embeddings")
        pq.pq_write_index(
            emb, idx, n_subspaces=16, n_codes=16, dim=64, coarse_clusters=8, iters=1, seed=SEED
        )
    queries = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    return pq.pq_query_index(
        spark, idx, queries, k=5, nprobe=2, n_subspaces=16, dim=64
    ).select("query_id", "neighbor_id", "rank", "sim")


def sql_pq_index_query() -> str:
    """Twin of the persisted-index query = the from-scratch IVF-PQ
    derivation (see q_pq_index_query docstring for why that is the
    right oracle: same geometry, same seed, same probe count —
    the index is the pipeline's fixpoint)."""
    return sql_ivfpq_ann_topk(n_clusters=8, nprobe=2, n_subspaces=16, n_codes=16, dim=64, k=5, seed=SEED)


def q_pq_residual_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ (Jégou et al. 2011 §III-A) under the gate: the
    codebooks quantize v − c_cid (the residual to the assigned coarse
    centroid) instead of v — inside one inverted list the residual
    energy is far smaller than the vector energy, so the same 16×16
    code budget spends on a much finer grid (recall improvement pinned
    on clustered data in test_r10_ops). Index layout and cache policy
    are `pq_index_query`'s with `residual=True` (an `_index_meta.json`
    marker switches the query path to the residual ADC kernel:
    dot(q,v̂) and |v̂|² decompose into the plain LUT sums plus tiny
    per-(cid, m, code) centroid tables — pq.pq_residual_adc_topk_block).
    The twin replays the full residual derivation from the base table:
    assign → subtract → train-on-residuals → encode → reconstruct
    v̂ = c + recon → probe → cosine."""
    idx = _pq_index_dir(sf_dir) + "_res"
    if not pq.index_is_residual(idx):  # meta is written LAST -> complete build marker
        emb = _read(spark, sf_dir, "embeddings")
        pq.pq_write_index(
            emb, idx, n_subspaces=16, n_codes=16, dim=64,
            coarse_clusters=8, iters=1, seed=SEED, residual=True,
        )
    queries = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    return pq.pq_query_index(
        spark, idx, queries, k=5, nprobe=2, n_subspaces=16, dim=64
    ).select("query_id", "neighbor_id", "rank", "sim")


def sql_pq_residual_query(
    n_clusters: int = 8,
    nprobe: int = 2,
    n_subspaces: int = 16,
    n_codes: int = 16,
    dim: int = 64,
    k: int = 5,
    seed: int = 42,
) -> str:
    """Twin of the residual index query: the ivfpq derivation with a
    residual hop — rass (nprobe=1 coarse assign), rres (elementwise
    v − c), PQ train/encode over rres, v̂ = c + reconstructed residual,
    then the shared probe/score/rank tail over v̂."""
    d_sub = dim // n_subspaces
    cos = _SQL_IVF_COS
    return f"""
WITH {_sql_ivf_cent1_ctes(n_clusters, dim, seed)},
rass AS (
  SELECT vec_id, cid FROM (
    SELECT c.vec_id, k.cid,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {cos.format(a='c.v', b='k.cvec')} DESC, k.cid ASC) AS rn
    FROM corpus c CROSS JOIN cent1 k)
  WHERE rn = 1
),
rres AS (
  SELECT r.vec_id, r.cid,
         list_transform(generate_series(1, {dim}), i -> c.v[i] - k.cvec[i]) AS rv
  FROM rass r JOIN corpus c USING (vec_id) JOIN cent1 k USING (cid)
),
{_sql_pq_cb1_ctes('rres', 'rv', n_subspaces, n_codes, d_sub, seed)},
reconr AS (
  SELECT c.vec_id, flatten(list(b.cvec ORDER BY c.m)) AS rr
  FROM (SELECT vec_id, m, cid FROM pa1 WHERE rn = 1) c
  JOIN pcb1 b USING (m, cid)
  GROUP BY c.vec_id
),
vhat AS (
  SELECT r.vec_id, list_transform(generate_series(1, {dim}), i -> k.cvec[i] + rec.rr[i]) AS rv
  FROM rass r JOIN cent1 k USING (cid) JOIN reconr rec USING (vec_id)
),
inv AS (SELECT cid, vec_id AS neighbor_id FROM rass),
probes AS (
  SELECT cid, vec_id AS query_id, v AS qv FROM (
    SELECT q.vec_id, q.v, k.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {cos.format(a='q.v', b='k.cvec')} DESC, k.cid ASC) AS rn
    FROM (SELECT vec_id, v FROM corpus WHERE vec_id < 5) q CROSS JOIN cent1 k)
  WHERE rn <= {nprobe}
),
s AS (
  SELECT query_id, neighbor_id, round({cos.format(a='qv', b='h.rv')}, 6) AS sim
  FROM probes JOIN inv USING (cid) JOIN vhat h ON h.vec_id = inv.neighbor_id
  WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM s WHERE sim IS NOT NULL AND NOT isnan(sim))
WHERE rank <= {k}
"""


_RERANK_SHORTLIST_K = 16


def q_pq_rerank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortlist-then-re-rank ANN under the gate — the standard
    deployed two-stage shape (FAISS IndexIVFPQ + refine): the persisted
    raw IVF-PQ index (pq_index_query's cached build) produces a
    ``shortlist_k=16`` ADC shortlist per query from the codes-only
    scan, then ONLY those raw vectors are re-scored with the exact
    cosine and the top-5 kept (pq.pq_query_index_rerank). Quantization
    error decides which candidates are LOOKED AT, never the final
    ordering — the recall/precision split that makes PQ usable in
    production.

    100 TB shape: stage 1 is the partition-pruned codes scan
    (pq_index_query's plan); stage 2 broadcasts the KB-sized shortlist
    into the raw-vector scan as a hash semi-join — the corpus is never
    shuffled, and the exact cosines are |q|·k' Catalyst fold
    expressions. The twin wraps the full from-scratch IVF-PQ
    derivation (sql_ivfpq_ann_topk at k'=16 — the persisted index's
    fixpoint, same argument as pq_index_query) and re-ranks the
    shortlist with SQL_KNN's rounded-cosine convention."""
    idx = _pq_index_dir(sf_dir)
    if not os.path.exists(os.path.join(idx, "codes", "_SUCCESS")):
        emb = _read(spark, sf_dir, "embeddings")
        pq.pq_write_index(
            emb, idx, n_subspaces=16, n_codes=16, dim=64, coarse_clusters=8, iters=1, seed=SEED
        )
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return pq.pq_query_index_rerank(
        spark, idx, queries, emb, k=5, shortlist_k=_RERANK_SHORTLIST_K,
        nprobe=2, n_subspaces=16, dim=64,
    ).select("query_id", "neighbor_id", "rank", "sim")


def sql_pq_rerank_query(k: int = 5, shortlist_k: int = _RERANK_SHORTLIST_K) -> str:
    """Twin of the two-stage query: the full ivfpq derivation at
    k=shortlist_k as the shortlist, then an exact-cosine re-rank over
    the shortlist ids only (the same rounded-cosine convention as
    SQL_KNN, so stage-2 scores match Spark's fold bit-for-bit)."""
    cos = _SQL_IVF_COS
    inner = sql_ivfpq_ann_topk(
        n_clusters=8, nprobe=2, n_subspaces=16, n_codes=16, dim=64, k=shortlist_k, seed=SEED
    )
    # rcorpus MUST be MATERIALIZED (the SQL_KNN convention): DuckDB's
    # list_inner_product validates the ENTIRE scan chunk including rows
    # a WHERE selection already filtered, so an inlined
    # embedding-IS-NOT-NULL CTE still throws "can not contain NULL
    # values" on a corpus with whole-NULL embeddings; materialization
    # compacts the chunk first (found by the r10 dirty-corpus fuzz).
    return f"""
WITH shortlist AS MATERIALIZED (SELECT query_id, neighbor_id FROM ({inner}) t),
rcorpus AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
rq AS (SELECT vec_id AS query_id, v AS qv FROM rcorpus WHERE vec_id < 5),
rs AS (
  SELECT sl.query_id, sl.neighbor_id, round({cos.format(a='rq.qv', b='c.v')}, 6) AS sim
  FROM shortlist sl JOIN rcorpus c ON c.vec_id = sl.neighbor_id JOIN rq USING (query_id)
)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM rs WHERE sim IS NOT NULL AND NOT isnan(sim))
WHERE rank <= {k}
"""


def q_ann_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming ANN appender under the driver gate (the last
    pytest-only streaming index module — media/novelty/drift all hold
    or held driver faces): a base index is built over the standing
    corpus (vec_id % 10 < 8, the `dedup_incremental` split), the new
    batch (vec_id % 10 >= 8) routes through the REAL micro-batch path
    (`streaming.ann_stream.ann_index_append_batch`: encode against the
    FROZEN base codebook + coarse-assign against the frozen centroids,
    land in the delta's own batch partition with the replay cursor),
    and the graded query is `query_with_delta` — base ∪ delta through
    ONE probe assignment and ONE ADC kernel pass.

    The frozen-codebook contract is exactly what the twin replays:
    train (IVF seeds+Lloyd AND PQ seeds+Lloyd) on the BASE SPLIT ONLY,
    then encode/assign/score the FULL corpus — so a green verdict pins
    that chunked streaming answers byte-identically to a batch
    re-index under the same frozen codebook (the module's design
    claim, ann_stream.py:24-28). Base index reuses the content-keyed
    cache (the `pq_index_query` pattern); the delta dir is FRESH per
    invocation — a reused dir's replay cursor would skip batch 0."""
    from rustic_witcher_spark.streaming.ann_stream import ann_index_append_batch, query_with_delta

    emb = _read(spark, sf_dir, "embeddings")
    idx = _pq_index_dir(sf_dir) + "_base8"
    if not os.path.exists(os.path.join(idx, "codes", "_SUCCESS")):
        pq.pq_write_index(
            emb.filter((F.col("vec_id") % 10) < 8), idx,
            n_subspaces=16, n_codes=16, dim=64, coarse_clusters=8, iters=1, seed=SEED,
        )
    # ONE codebook-geometry probe serves the empty-base check, the
    # append's encode, and the query — the codebook is frozen, so the
    # triple used to be computed three times (3 identical agg jobs)
    cb, m, dim = pq.codebook_geometry(spark, idx)
    if m == 0:  # all-NULL / empty base split: no codebook, no index — the
        # twin's empty pseeds chain returns zero rows identically
        return spark.createDataFrame([], "query_id long, neighbor_id long, rank int, sim double")
    delta = _fresh_workdir("ann_inc")
    ann_index_append_batch(
        emb.filter((F.col("vec_id") % 10) >= 8), 0, idx, delta, geometry=(cb, m, dim)
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return query_with_delta(
        spark, idx, delta, queries, k=5, nprobe=2, n_subspaces=m, dim=dim
    ).select("query_id", "neighbor_id", "rank", "sim")


def sql_ann_incremental(
    n_clusters: int = 8,
    nprobe: int = 2,
    n_subspaces: int = 16,
    n_codes: int = 16,
    dim: int = 64,
    k: int = 5,
    seed: int = 42,
) -> str:
    """Twin of base-index + streamed delta + query_with_delta: the
    sql_ivfpq_ann_topk derivation with BOTH quantizers trained on the
    base split only (``train_pred`` on both training skeletons) while
    pa1 encode, inv assignment, probes and ADC scoring run over the
    full corpus — the frozen-codebook semantics of the appender."""
    d_sub = dim // n_subspaces
    base = "vec_id % 10 < 8"
    cos = _SQL_IVF_COS
    return f"""
WITH {_sql_ivf_cent1_ctes(n_clusters, dim, seed, train_pred=base)},
pcorpus AS (SELECT vec_id, v FROM corpus WHERE v IS NOT NULL),
{_sql_pq_cb1_ctes('pcorpus', 'v', n_subspaces, n_codes, d_sub, seed, train_pred=base)},
recon AS (
  SELECT c.vec_id, flatten(list(b.cvec ORDER BY c.m)) AS rv
  FROM (SELECT vec_id, m, cid FROM pa1 WHERE rn = 1) c
  JOIN pcb1 b USING (m, cid)
  GROUP BY c.vec_id
),
inv AS (
  SELECT cid, vec_id AS neighbor_id FROM (
    SELECT c.vec_id, k.cid,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {cos.format(a='c.v', b='k.cvec')} DESC, k.cid ASC) AS rn
    FROM corpus c CROSS JOIN cent1 k)
  WHERE rn = 1
),
probes AS (
  SELECT cid, vec_id AS query_id, v AS qv FROM (
    SELECT q.vec_id, q.v, k.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {cos.format(a='q.v', b='k.cvec')} DESC, k.cid ASC) AS rn
    FROM (SELECT vec_id, v FROM corpus WHERE vec_id < 5) q CROSS JOIN cent1 k)
  WHERE rn <= {nprobe}
),
s AS (
  SELECT query_id, neighbor_id, round({cos.format(a='qv', b='r.rv')}, 6) AS sim
  FROM probes JOIN inv USING (cid) JOIN recon r ON r.vec_id = inv.neighbor_id
  WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM s WHERE sim IS NOT NULL AND NOT isnan(sim))
WHERE rank <= {k}
"""


def q_embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64→16: the cheap deterministic dim
    reduction applied before LSH/storage at 100 TB (pure expressions,
    scan speed; weights constant-folded literals).

    The registry entry emits the projection as ONE canonical string
    column (6-dp coordinates joined by ','): the driver's canonicalizer
    hashes scalar cells and cannot factorize an array<double>. The
    programmatic API (`similarity.random_projection`) still returns the
    array. Values are rounded NUMERICALLY to 6 dp before formatting —
    Spark's format_string (java.util.Formatter, HALF_UP) and DuckDB's
    printf (correctly rounded) can disagree on raw doubles near a 6-dp
    boundary, but agree when handed an already-rounded value. `+ 0.0`
    collapses IEEE -0.0 so both engines render the same sign.

    embedding IS NOT NULL: a NULL vector has no projection — the same
    drop every ANN kernel applies at its boundary (and DuckDB's
    list_dot_product hard-errors on NULL lists, so the twin guards its
    scan identically; dirty-corpus fuzz, r9)."""
    e = _spread(spark, _read(spark, sf_dir, "embeddings")).filter(F.col("embedding").isNotNull())
    proj = similarity.random_projection(F.col("embedding"), 64, 16)
    return e.select(
        "vec_id",
        F.array_join(
            F.transform(
                proj, lambda x: F.format_string("%.6f", F.round(x, 6) + F.lit(0.0))
            ),
            ",",
        ).alias("proj"),
    )


def sql_embedding_project() -> str:
    # MATERIALIZED: DuckDB's list_inner_product validates the child
    # validity buffer of the whole parquet chunk BEFORE the selection
    # mask applies, so any NULL embedding row poisons its chunk even
    # behind a WHERE/CASE/coalesce guard; the materialized CTE rewrites
    # survivors into a clean intermediate (r9 dirty-corpus fuzz)
    return (
        "WITH src AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings "
        "WHERE embedding IS NOT NULL) "
        "SELECT vec_id, array_to_string(list_transform("
        f"{similarity.sql_random_projection('embedding', 64, 16)}, "
        "x -> printf('%.6f', round(x, 6) + 0.0)), ',') AS proj "
        "FROM src"
    )


def q_doc_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-decile document-length profile WITHOUT a global sort: a
    naive ``ntile(10) OVER (ORDER BY ...)`` moves the whole table into
    one partition — the classic scale-killer window. Instead the nine
    decile boundaries are computed as ONE scalar aggregate row
    (Spark's `percentile` ≡ DuckDB's quantile_cont, rounded 4 dp),
    broadcast, and each row's decile is an array fold over the
    boundaries — scan-parallel assignment, two narrow exchanges total
    (the 1-row aggregate + the 10-group final agg)."""
    d = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    fracs = [i / 10 for i in range(1, 10)]
    bounds = d.agg(
        F.expr(
            "transform(percentile(n_chars, array({fs})), x -> round(x, 4))".format(
                fs=", ".join(str(f) for f in fracs)
            )
        ).alias("__bounds")
    )
    return (
        d.crossJoin(F.broadcast(bounds))
        .withColumn(
            "decile",
            1
            + F.aggregate(
                "__bounds",
                F.lit(0),
                lambda acc, b: acc + F.when(F.col("n_chars") > b, 1).otherwise(0),
            ),
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


SQL_DOC_LENGTH_DECILES = """
WITH b AS (
  SELECT list_transform(quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                        x -> round(x, 4)) AS bounds
  FROM documents
)
SELECT 1 + len(list_filter(bounds, x -> n_chars > x)) AS decile,
       count(*) AS n_docs, min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       round(avg(n_chars), 4) AS avg_chars
FROM documents CROSS JOIN b
GROUP BY 1
"""


def q_skew_salted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-type-average event stats through a SALTED join
    (operators/skew.py): event_type is the engine's most skewed key
    (a handful of distinct values over the whole fact table), so the
    fact side is fanned across 16 content-derived salts and the tiny
    type-average dim is exploded 16×. Locally Catalyst broadcasts the
    80-row exploded dim (zero shuffle); at 100 TB with a
    non-broadcastable right side the identical plan shuffles on
    (event_type, salt) — 16-way spread of each hot key instead of one
    straggler partition. Results are salt-invariant by construction,
    which is exactly what the plain-join oracle verifies.

    type_avg sums exact integer cents (values carry ≤2 decimals), not
    doubles: avg(double) is summation-order-sensitive, and here the
    average is a FILTER THRESHOLD — a last-bit divergence between
    Spark's partitioned partials and DuckDB's sequential sum would
    flip row membership, not just a rounded digit (the same class the
    r12 fuzz caught in lineitem_unpivot). Exact sum + one division
    gives both engines the bit-identical threshold."""
    ev = read_events(spark, sf_dir).select("event_type", "value")
    dim = ev.groupBy("event_type").agg(
        (
            F.sum(F.round(F.col("value") * 100).cast("long"))
            / (F.lit(100.0) * F.count("value"))
        ).alias("type_avg")
    )
    j = skew.salted_join(ev, dim, on=["event_type"], n_salts=16)
    return (
        j.filter(F.col("value") > F.col("type_avg"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_above"),
            F.round(F.sum("value"), 4).alias("sum_above"),
        )
    )


SQL_SKEW_SALTED = """
WITH dim AS (SELECT event_type,
             sum(CAST(round(value * 100) AS BIGINT)) / (100.0 * count(value)) AS type_avg
             FROM events GROUP BY 1)
SELECT event_type, count(*) AS n_above, round(sum(value), 4) AS sum_above
FROM events JOIN dim USING (event_type)
WHERE value > type_avg
GROUP BY 1
"""


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact value-distribution percentiles per event type (p50/p90/p99,
    linear interpolation — Spark's `percentile` and DuckDB's
    quantile_cont agree bit-for-bit at 4 dp). Exact percentile sorts
    per group; at 100 TB swap in approx_percentile (t-digest, bounded
    memory, one pass) — tolerance-tested in test_extensions."""
    ev = read_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


SQL_VALUE_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY 1
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users cohorted by signup week,
    counted as retained in every later week they show activity.
    Two shuffles total — one to build the per-user cohort, one for the
    (cohort_week, weeks_since) distinct-user aggregate."""
    ev = read_events(spark, sf_dir).select("user_id", "event_type", "ts")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    act = (
        ev.join(signup, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7).cast("int").alias("weeks_since"),
        )
        .filter(F.col("weeks_since") >= 0)
        .distinct()
    )
    return (
        act.groupBy("cohort_week", "weeks_since")
        .agg(F.count("*").alias("n_users"))
        .select(_fmt(F.col("cohort_week")).alias("cohort_week"), "weeks_since", "n_users")
    )


SQL_COHORT = """
WITH signup AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
act AS (
  SELECT DISTINCT e.user_id, s.cohort_week,
         (date_diff('day', s.cohort_week, date_trunc('week', e.ts)) / 7)::INT AS weeks_since
  FROM events e JOIN signup s USING (user_id)
  WHERE date_diff('day', s.cohort_week, date_trunc('week', e.ts)) >= 0
)
SELECT strftime(cohort_week, '%Y-%m-%d %H:%M:%S') AS cohort_week, weeks_since, count(*) AS n_users
FROM act GROUP BY 1, 2
"""


def q_funnel_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event funnel: per user, the first click and whether a purchase
    followed within 1 hour — the conversion measurement every event
    pipeline runs. Sequence matching via window functions over the
    per-user event stream (one shuffle on user_id), not a self-join:
    min-click first, then the min purchase after it."""
    ev = read_events(spark, sf_dir).select("user_id", "event_type", "ts")
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    first_purchase_after = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_click, "user_id")
        .filter(F.col("ts") >= F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    out = first_click.join(
        first_purchase_after.select("user_id", "purchase_ts"), "user_id", "left"
    ).select(
        "user_id",
        _fmt(F.col("click_ts")).alias("first_click"),
        F.coalesce(
            (F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")) <= 3600, F.lit(False)
        ).alias("converted_1h"),
    )
    return out


def _fmt(c):
    return F.date_format(c, _FMT)


SQL_FUNNEL = """
WITH fc AS (
  SELECT user_id, min(ts) AS click_ts FROM events WHERE event_type = 'click' GROUP BY 1
),
fp AS (
  SELECT e.user_id, min(e.ts) AS purchase_ts
  FROM events e JOIN fc USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= fc.click_ts
  GROUP BY 1
)
SELECT fc.user_id,
       strftime(fc.click_ts, '%Y-%m-%d %H:%M:%S') AS first_click,
       coalesce(floor(epoch(fp.purchase_ts))::BIGINT - floor(epoch(fc.click_ts))::BIGINT <= 3600, false) AS converted_1h
FROM fc LEFT JOIN fp USING (user_id)
"""


# ----------------------------------------------------------- multimodal

_MAGIC = {0: "FFD8FFE0", 1: "89504E47", 2: "52494646", 3: "00000018"}  # jpeg png wav mp4


def _media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize opaque media bytes from documents: a per-row container
    magic prefix + the utf-8 text bytes. Deterministic, so both engines
    build identical blobs."""
    d = _read(spark, sf_dir, "documents")
    prefix = F.when(F.col("doc_id") % 4 == 0, F.lit(bytes.fromhex(_MAGIC[0])))
    for k in (1, 2, 3):
        prefix = prefix.when(F.col("doc_id") % 4 == k, F.lit(bytes.fromhex(_MAGIC[k])))
    return d.select("doc_id", F.concat(prefix, F.encode("text", "UTF-8")).alias("media"))


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container sniffing from magic bytes — the cheap pure-expression
    pre-pass that routes rows to per-format decode stages at scale."""
    return multimodal.attach_media_metadata(_media_df(spark, sf_dir), "media").select(
        "doc_id", "media_size", "media_format", "media_type"
    )


SQL_MEDIA_METADATA = """
SELECT doc_id,
       4 + octet_length(encode(text)) AS media_size,
       CASE doc_id % 4 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' WHEN 2 THEN 'wav' ELSE 'mp4' END AS media_format,
       CASE doc_id % 4 WHEN 0 THEN 'image' WHEN 1 THEN 'image' WHEN 2 THEN 'audio' ELSE 'video' END AS media_type
FROM documents
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode→featurize plumbing end-to-end: sniff format, Arrow-batched
    mapInPandas feature extraction, then a per-format aggregate over the
    feature vector. The fake kernel chains md5 over lowercase-hex
    strings (see ``fake_decode_features``) precisely so the DuckDB twin
    can reproduce it — the ONLY Python-closure entry is still fully
    hash-checked end-to-end."""
    m = multimodal.attach_media_metadata(_media_df(spark, sf_dir), "media")
    feats = multimodal.extract_features(m, "media", n_features=8)
    return (
        feats.groupBy("media_format")
        .agg(
            F.count("*").alias("n_media"),
            F.round(F.avg(F.element_at("features", 1)), 4).alias("avg_feat0"),
            F.round(F.avg(F.element_at("features", 8)), 4).alias("avg_feat7"),
        )
    )


def sql_multimodal_features() -> str:
    """DuckDB twin of ``q_multimodal_features``: rebuilds the media hex
    string (magic prefix + hex(text bytes)), replays the md5 hex-string
    chain from ``fake_decode_features`` as one CTE per link, and parses
    the leading 4 digest bytes with a ``('0x' || hex)::BIGINT`` cast."""
    magic_case = (
        "CASE doc_id % 4 "
        + " ".join(f"WHEN {k} THEN '{_MAGIC[k].lower()}'" for k in (0, 1, 2))
        + f" ELSE '{_MAGIC[3].lower()}' END"
    )
    fmt_case = "CASE fmt_k WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' WHEN 2 THEN 'wav' ELSE 'mp4' END"
    ctes = [
        "m AS (SELECT doc_id % 4 AS fmt_k, "
        f"md5({magic_case} || lower(hex(encode(text)))) AS h0 FROM documents)"
    ]
    for i in range(8):
        keep = ", h1" if i >= 1 else ""
        ctes.append(f"s{i + 1} AS (SELECT fmt_k{keep}, md5(h{i} || '{i:02x}') AS h{i + 1} FROM {'m' if i == 0 else f's{i}'})")
    feat = "('0x' || substr({h}, 1, 8))::BIGINT / 4294967296.0"
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT {fmt_case} AS media_format,
       count(*)::BIGINT AS n_media,
       round(avg({feat.format(h='h1')}), 4) AS avg_feat0,
       round(avg({feat.format(h='h8')}), 4) AS avg_feat7
FROM s8 GROUP BY 1"""
    )


MEDIA_DUP_MAXH = 2  # pigeonhole: 3 bands over the 63-bit perceptual hash
MEDIA_DUP_STRIDE = 7  # every 7th doc gets a perturbed twin in the fixture corpus


def media_twin_offset(max_doc_id: int | None) -> int:
    """Twin-id offset: the next multiple of 4 PAST the largest real
    doc_id, so twin ids are collision-free at ANY corpus size (a fixed
    1e6 offset would collide once the corpus passes 1M docs) while
    preserving doc_id % 4 — the mod-4 container-magic assignment."""
    return (((max_doc_id if max_doc_id is not None else 0) + 4) // 4) * 4


def _media_with_twins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media corpus with planted near-duplicates: every STRIDE-th doc is
    re-encoded with its first character uppercased (one byte ±32 → one
    cell mean moves slightly → hamming ≤ 2 against the original), under
    doc_id + media_twin_offset(max id) — disjoint from every real id,
    mod-4 magic preserved (the offset is a multiple of 4). The organic
    corpus has no pairs under hamming 9 (measured), so the entry's
    output is exactly the planted twins (plus the organic tail at
    larger SFs) — a recall fixture, the same role the %89-keyed
    synthetic updates play for cdc_upsert. The offset costs one
    1-scalar agg collect — bounded, like the IVF probe ids."""
    d = _read(spark, sf_dir, "documents")
    offset = media_twin_offset(d.agg(F.max("doc_id")).collect()[0][0])
    twins = d.filter(F.col("doc_id") % MEDIA_DUP_STRIDE == 0).select(
        (F.col("doc_id") + F.lit(offset)).alias("doc_id"),
        F.concat(F.upper(F.substring("text", 1, 1)), F.expr("substring(text, 2)")).alias("text"),
    )
    base = d.select("doc_id", "text").unionByName(twins)
    prefix = F.when(F.col("doc_id") % 4 == 0, F.lit(bytes.fromhex(_MAGIC[0])))
    for k in (1, 2, 3):
        prefix = prefix.when(F.col("doc_id") % 4 == k, F.lit(bytes.fromhex(_MAGIC[k])))
    return base.select("doc_id", F.concat(prefix, F.encode("text", "UTF-8")).alias("media"))


def q_media_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over the media column —
    the image-side twin of the text dedup family: decode (or fall back
    to content bytes) → 63-bit dHash → banded hamming search.

    Scale shape: the dHash is a narrow Arrow-batched mapInPandas stage
    (``multimodal.attach_perceptual_hash``, numpy bincount per row — no
    Python inner loop); pair discovery reuses the simhash banding
    engine (``dedup.hamming_near_duplicates``): d+1 = 3 band keys per
    row, ONE shuffle, in-bucket pair enumeration, exact-by-pigeonhole —
    never an all-pairs self-join. The DuckDB twin replays the byte-path
    hash from hex pairs and brute-forces the O(n²) confirm, which is
    exactly the cross join the Spark plan exists to avoid."""
    m = _media_with_twins(spark, sf_dir)
    hashed = multimodal.attach_perceptual_hash(m, "media")
    return (
        dedup.hamming_near_duplicates(
            hashed, "doc_id", "phash", max_hamming=MEDIA_DUP_MAXH, max_bucket_size=1 << 20
        )
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


def sql_media_near_dups() -> str:
    magic_case = (
        "CASE doc_id % 4 "
        + " ".join(f"WHEN {k} THEN '{_MAGIC[k].lower()}'" for k in (0, 1, 2))
        + f" ELSE '{_MAGIC[3].lower()}' END"
    )
    return f"""
WITH off AS (SELECT (((coalesce(max(doc_id), 0) + 4) // 4) * 4)::BIGINT AS m FROM documents),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + off.m AS doc_id,
         upper(substr(text, 1, 1)) || substr(text, 2) AS text
  FROM documents, off WHERE doc_id % {MEDIA_DUP_STRIDE} = 0
),
b AS (SELECT doc_id, {magic_case} || lower(hex(encode(text))) AS hx,
             4 + octet_length(encode(text)) AS n FROM corpus),
by AS (SELECT doc_id, n, unnest(range(n)) AS i, hx FROM b),
bv AS (SELECT doc_id, ('0x' || substr(hx, 2 * i::INT + 1, 2))::BIGINT AS v,
              (i * 64) // n AS seg FROM by),
segs AS (SELECT doc_id, seg, sum(v)::BIGINT AS s, count(*)::BIGINT AS c FROM bv GROUP BY 1, 2),
bits AS (SELECT a.doc_id, a.seg AS j,
                CASE WHEN a.s * b.c > b.s * a.c THEN 1 ELSE 0 END AS bit
         FROM segs a JOIN segs b ON a.doc_id = b.doc_id AND b.seg = a.seg + 1),
h AS (SELECT b.doc_id,
             CASE WHEN b.hx IS NULL THEN NULL
                  ELSE coalesce(sum(bit * (1::BIGINT << j::INT)), 0) END::BIGINT AS ph
      FROM b LEFT JOIN bits ON b.doc_id = bits.doc_id GROUP BY b.doc_id, b.hx)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.ph, b.ph))::INT AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ph, b.ph)) <= {MEDIA_DUP_MAXH}
ORDER BY id_a, id_b
"""


def q_media_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly media ingest under the gate: the new batch
    (doc_id % 10 >= 8 — the `dedup_incremental` split convention) is
    flagged exact/near-dup against the standing corpus through
    `dedup.incremental_hamming_flags` — the batch-vs-index path the
    `media-dedup --against` CLI and `streaming/media_dedup.py`
    appender run per micro-batch, which until r10 held only pytest
    pins. Per batch row: exact_dup = an identical 63-bit dHash exists
    in the corpus, near_dup = a corpus hash within MEDIA_DUP_MAXH bits
    (band join generates candidates — lossless by pigeonhole — the
    xor bit_count confirms); NULL-media rows flag (False, False).

    Scale shape: the corpus side reduces to DISTINCT (band, hash)
    index rows (exactly the persisted fingerprint index), the join
    shuffles band keys only, and media bytes never cross the wire.
    The DuckDB twin replays the byte-path dHash and brute-forces the
    batch×corpus confirm — the cross join this plan exists to avoid."""
    m = _media_with_twins(spark, sf_dir)
    hashed = multimodal.attach_perceptual_hash(m, "media")
    return dedup.incremental_hamming_flags(
        hashed, "doc_id", "phash", (F.col("doc_id") % 10) >= 8, max_hamming=MEDIA_DUP_MAXH,
        materialize_keyed=True,
    ).orderBy("doc_id")


def sql_media_incremental() -> str:
    magic_case = (
        "CASE doc_id % 4 "
        + " ".join(f"WHEN {k} THEN '{_MAGIC[k].lower()}'" for k in (0, 1, 2))
        + f" ELSE '{_MAGIC[3].lower()}' END"
    )
    return f"""
WITH off AS (SELECT (((coalesce(max(doc_id), 0) + 4) // 4) * 4)::BIGINT AS m FROM documents),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + off.m AS doc_id,
         upper(substr(text, 1, 1)) || substr(text, 2) AS text
  FROM documents, off WHERE doc_id % {MEDIA_DUP_STRIDE} = 0
),
b AS (SELECT doc_id, {magic_case} || lower(hex(encode(text))) AS hx,
             4 + octet_length(encode(text)) AS n FROM corpus),
by AS (SELECT doc_id, n, unnest(range(n)) AS i, hx FROM b),
bv AS (SELECT doc_id, ('0x' || substr(hx, 2 * i::INT + 1, 2))::BIGINT AS v,
              (i * 64) // n AS seg FROM by),
segs AS (SELECT doc_id, seg, sum(v)::BIGINT AS s, count(*)::BIGINT AS c FROM bv GROUP BY 1, 2),
bits AS (SELECT a.doc_id, a.seg AS j,
                CASE WHEN a.s * b.c > b.s * a.c THEN 1 ELSE 0 END AS bit
         FROM segs a JOIN segs b ON a.doc_id = b.doc_id AND b.seg = a.seg + 1),
h AS (SELECT b.doc_id,
             CASE WHEN b.hx IS NULL THEN NULL
                  ELSE coalesce(sum(bit * (1::BIGINT << j::INT)), 0) END::BIGINT AS ph
      FROM b LEFT JOIN bits ON b.doc_id = bits.doc_id GROUP BY b.doc_id, b.hx),
newb AS (SELECT doc_id, ph FROM h WHERE doc_id % 10 >= 8),
idx AS (SELECT DISTINCT ph FROM h WHERE doc_id % 10 < 8 AND ph IS NOT NULL)
SELECT n.doc_id,
       coalesce(bool_or(n.ph IS NOT NULL AND n.ph = i.ph), FALSE) AS exact_dup,
       coalesce(bool_or(n.ph IS NOT NULL AND bit_count(xor(n.ph, i.ph)) <= {MEDIA_DUP_MAXH}), FALSE) AS near_dup
FROM newb n LEFT JOIN idx i ON TRUE
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------- event windows


def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event gets the most recent purchase value
    (same user, purchase.ts <= click.ts). Oracle is DuckDB's native
    ASOF LEFT JOIN. Right side is pre-deduped per (user_id, ts) so the
    match is unique and both engines agree deterministically."""
    ev = read_events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "click").select("event_id", "ts", "user_id", "value")
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    joined = asof_join(left, right, on=["user_id"], left_ts="ts", right_ts="ts", value_cols=["purchase_value"], suffix="")
    return joined.select(
        "event_id",
        F.date_format("ts", _FMT).alias("ts"),
        "user_id",
        F.round("value", 4).alias("value"),
        F.round("purchase_value", 4).alias("purchase_value"),
    )


SQL_ASOF = """
WITH l AS (SELECT event_id, ts, user_id, value FROM events
           WHERE event_type = 'click' AND ts IS NOT NULL),
r AS (SELECT user_id, ts, max(value) AS purchase_value FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY 1, 2)
SELECT l.event_id, strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts, l.user_id,
       round(l.value, 4) AS value, round(r.purchase_value, 4) AS purchase_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


# 80 synthetic overlapping "campaign windows" over the events month:
# start = 2024-01-01 + i*9h, width 16h. Deterministic literals so the
# DuckDB oracle builds the identical interval table.
_CAMPAIGN_BASE_EPOCH = 1_704_067_200  # 2024-01-01 00:00:00 UTC
_CAMPAIGN_STEP_S = 9 * 3600
_CAMPAIGN_WIDTH_S = 16 * 3600
_N_CAMPAIGNS = 80


def q_events_in_campaign_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (point-in-interval) without a nested loop: events are
    bucketed, campaign intervals exploded into overlapped buckets, and
    the match is a hash equi-join on the bucket id."""
    ev = read_events(spark, sf_dir).select("event_id", "ts", "value")
    camp = spark.range(_N_CAMPAIGNS).select(
        F.col("id").alias("campaign_id"),
        F.timestamp_seconds(F.lit(_CAMPAIGN_BASE_EPOCH) + F.col("id") * _CAMPAIGN_STEP_S).alias("w_start"),
        F.timestamp_seconds(
            F.lit(_CAMPAIGN_BASE_EPOCH) + F.col("id") * _CAMPAIGN_STEP_S + _CAMPAIGN_WIDTH_S
        ).alias("w_end"),
    )
    joined = range_join(ev, camp, "ts", "w_start", "w_end", bucket_width=_CAMPAIGN_WIDTH_S)
    return joined.groupBy("campaign_id").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value")
    )


SQL_CAMPAIGN_WINDOWS = f"""
WITH c AS (
  SELECT i AS campaign_id,
         TIMESTAMP '2024-01-01 00:00:00' + to_seconds(i * {_CAMPAIGN_STEP_S}) AS ws,
         TIMESTAMP '2024-01-01 00:00:00' + to_seconds(i * {_CAMPAIGN_STEP_S} + {_CAMPAIGN_WIDTH_S}) AS we
  FROM generate_series(0, {_N_CAMPAIGNS - 1}) t(i))
SELECT campaign_id, count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM c JOIN events e ON e.ts >= c.ws AND e.ts <= c.we
GROUP BY campaign_id
"""


def q_events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable rollup: events → 5-minute level → 1-hour level, the
    hour buckets RE-AGGREGATING the 5-minute summaries (raw data is
    touched once). The DuckDB oracle aggregates raw→hour directly, so
    the test proves the cascade is lossless."""
    ev = read_events(spark, sf_dir).select("ts", "event_type", "value")
    fine = rollup.rollup_level(ev, "ts", "5 minutes", keys=["event_type"])
    hour = rollup.rollup_coarser(fine, "1 hour", keys=["event_type"])
    return hour.select(
        "event_type",
        F.date_format("bucket_start", _FMT).alias("bucket_start"),
        "n",
        F.round("sum_value", 4).alias("sum_value"),
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
    )


SQL_ROLLUP_CASCADE = """
SELECT event_type, strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
       count(*) AS n, round(sum(value), 4) AS sum_value,
       round(min(value), 4) AS min_value, round(max(value), 4) AS max_value
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
"""
# ^ ts IS NOT NULL mirrors F.window's structural drop (dirty fuzz, r9).


def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the props JSON column with a
    typed from_json schema (JVM-side Jackson, no Python) and aggregate
    the extracted field per event_type. The reference passes JSON
    through untouched (SURVEY §1.2); a training pipeline reads it."""
    ev = read_events(spark, sf_dir)
    parsed = ev.withColumn("k", F.from_json("props", "k INT")["k"])
    return parsed.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.round(F.avg("k"), 4).alias("avg_k"),
        F.max("k").alias("max_k"),
    )


SQL_EVENTS_JSON = """
SELECT event_type, count(k) AS n_with_k, round(avg(k), 4) AS avg_k, max(k) AS max_k
FROM (SELECT event_type, json_extract(props, '$.k')::INT AS k FROM events)
GROUP BY event_type
"""


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.tumbling(read_events(spark, sf_dir), width="1 hour")


SQL_TUMBLING = """
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events WHERE ts IS NOT NULL GROUP BY 1
"""
# ^ ts IS NOT NULL: an event with no timestamp belongs to NO time
# window — Spark's F.window drops such rows structurally; the oracle
# must say so explicitly or DuckDB groups them under a NULL bucket
# (dirty-stream fuzz finding, r9).


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.sliding(read_events(spark, sf_dir), width="1 hour", slide="30 minutes")


SQL_SLIDING = """
WITH b AS (SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS tb, value FROM events WHERE ts IS NOT NULL),
w AS (SELECT unnest([tb, tb - INTERVAL 30 MINUTE]) AS ws, value FROM b)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM w GROUP BY 1
"""


def q_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.session(read_events(spark, sf_dir), gap="30 minutes", key="user_id")


SQL_SESSION = """
WITH g AS (
  SELECT user_id, ts, value, event_id,
         -- STRICT >: F.session_window keeps an event landing at
         -- exactly last_ts + gap IN the session (empirically probed;
         -- the window range [start, last+gap) merges on touch). The
         -- >= form split there — found by the random-stream fuzz,
         -- latent because the fixed testdata never produced an
         -- exact-1800s gap.
         -- event_id tie-break in BOTH window orders: with several
         -- events at the SAME timestamp, ts alone lets the lag window
         -- and the cumsum window sort the tie differently — the
         -- lag-NULL brk=1 row can land mid-tie in the cumsum and split
         -- a zero-gap group in two (also fuzz-found).
         CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
  -- ts IS NOT NULL: a timestamp-less event belongs to NO session —
  -- Spark's F.session_window drops such rows structurally (dirty fuzz)
  FROM events WHERE ts IS NOT NULL WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM g)
SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM s GROUP BY user_id, sid
"""


# ---------------------------------------------------------------------------
# Round-4 north-star additions: weighted sampling, sequence packing,
# HLL sketch, test-set decontamination, semantic dedup
# ---------------------------------------------------------------------------


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample-without-replacement (A-ES): top-50
    documents by ln(u)/n_chars key — longer documents proportionally
    likelier. Compiles to TakeOrderedAndProject: per-partition top-k +
    driver merge, no global sort shuffle."""
    d = _read(spark, sf_dir, "documents")
    return sampling.weighted_sample_topk(d, "doc_id", "n_chars", 50, seed=SEED).select(
        "doc_id", "n_chars"
    )


SQL_WEIGHTED_SAMPLE = f"""
SELECT doc_id, n_chars FROM documents WHERE n_chars > 0
ORDER BY {sampling.sql_weighted_sample_key('doc_id', 'n_chars', SEED)} DESC, doc_id ASC
LIMIT 50
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style pretraining): which
    2048-token training sequence does each document start in? Spark
    side runs the scalable two-level prefix scan (per-block sums →
    tiny exclusive prefix → per-block windows); the oracle runs the
    textbook single global cumsum — their agreement proves the
    decomposition is lossless."""
    d = _read(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    packed = packing.pack_sequences(d, "doc_id", "n_tokens", budget=2048, block=64)
    return packing.pack_summary(packed, "n_tokens")


SQL_PACK_SEQUENCES = """
WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
c AS (SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
SELECT ((cum - n_tokens) // 2048)::BIGINT AS seq_id,
       count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens
FROM c GROUP BY 1
"""


def q_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register-exact HLL distinct-user estimate per event type, next
    to the exact count. Unlike approx_count_distinct (whose hash
    differs between engines), every register is engine-portable md5
    arithmetic — the SKETCH itself is oracle-checked, not just its
    error bound. One bounded-state aggregation; no raw-key shuffle."""
    ev = read_events(spark, sf_dir)
    est = sketches.approx_distinct(ev, "user_id", ["event_type"], seed=SEED)
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))
    return exact.join(est, "event_type").select("event_type", "n_exact", "hll_est")


def q_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set ALGEBRA — the audience-overlap report (|A|, |B|,
    |A∪B|, |A∩B|, Jaccard per event-type pair) computed entirely from
    HLL registers: register-wise max of two sketches IS the union
    sketch, and intersection follows by inclusion-exclusion. This is
    the mergeability that makes sketches the 100 TB answer — overlap
    of two billion-user audiences costs two joins over ≤64-row
    register tables, never an exact distinct self-join of raw keys
    (sketches.hll_pairwise_set_ops)."""
    ev = read_events(spark, sf_dir)
    return sketches.hll_pairwise_set_ops(ev, "user_id", "event_type", seed=SEED).orderBy(
        "group_a", "group_b"
    )


def sql_hll_set_ops() -> str:
    return sketches.sql_hll_pairwise_set_ops("user_id", "event_type", "events", seed=SEED)


def sql_hll_users() -> str:
    est = sketches.sql_approx_distinct("user_id", "event_type", "events", SEED)
    return f"""
WITH est AS ({est}),
ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY 1)
SELECT ex.event_type, ex.n_exact, est.hll_est
FROM ex JOIN est ON est.grp = ex.event_type
"""


_SEMANTIC_DECONTAM_TAU = 0.4


def q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space complement of the
    n-gram `decontaminate` entry (paraphrased or lightly-rewritten eval
    leakage shares no 3-gram but sits close in embedding space): flag
    every training vector whose cosine against ANY held-out eval vector
    (vec_id % 97 == 0, the decontaminate split) reaches τ=0.4, with the
    hit count and the max similarity. Output (vec_id, n_eval_hits,
    max_sim) per flagged training doc.

    100 TB shape: the eval set is always tiny relative to training
    data, so the eval embeddings BROADCAST and the train side is ONE
    scan with a per-row comparison against the broadcast block — no
    shuffle of the corpus, and the per-train rollup is map-side
    combinable. NULL embeddings drop on both sides (no vector → no
    similarity, the brute_force_topk convention); zero-norm cosines
    are NaN/NULL and drop before the threshold."""
    from rustic_witcher_spark.operators.similarity import cosine

    emb = _read(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    ev = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("__eid"), F.col("embedding").alias("__ev")
    )
    tr = emb.filter(F.col("vec_id") % 97 != 0).select("vec_id", F.col("embedding").alias("__tv"))
    scored = (
        tr.crossJoin(F.broadcast(ev))
        .select("vec_id", "__eid", F.round(cosine(F.col("__tv"), F.col("__ev")), 6).alias("__sim"))
        .filter(F.col("__sim").isNotNull() & ~F.isnan(F.col("__sim")))
        .filter(F.col("__sim") >= _SEMANTIC_DECONTAM_TAU)
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_eval_hits"),
            F.max("__sim").alias("max_sim"),
        )
        .orderBy("vec_id")
    )


def sql_semantic_decontam(tau: float = _SEMANTIC_DECONTAM_TAU) -> str:
    """DuckDB twin: same split predicates, SQL_KNN's rounded-cosine
    convention (MATERIALIZED src — the chunk-validation lesson), same
    threshold/rollup."""
    cos = _SQL_IVF_COS
    return f"""
WITH src AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
ev AS (SELECT vec_id AS eid, v AS evec FROM src WHERE vec_id % 97 = 0),
tr AS (SELECT vec_id, v AS tvec FROM src WHERE vec_id % 97 <> 0),
s AS (
  SELECT tr.vec_id, ev.eid, round({cos.format(a='tr.tvec', b='ev.evec')}, 6) AS sim
  FROM tr, ev
)
SELECT vec_id, count(*) AS n_eval_hits, max(sim) AS max_sim
FROM s WHERE sim IS NOT NULL AND NOT isnan(sim) AND sim >= {tau}
GROUP BY vec_id
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 97 == 0 play the
    held-out eval set; every training doc sharing >= 1 word 3-gram with
    it is flagged with its shared-gram count. Eval grams broadcast;
    training side is one projection + one map-side-combinable groupBy —
    no self-join, nothing quadratic. (Real pipelines use n = 8-13; the
    synthetic corpus's ~30-word vocabulary needs n = 3 for a non-empty
    overlap to verify against.)"""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    ev = d.filter(F.col("doc_id") % 97 == 0)
    tr = d.filter(F.col("doc_id") % 97 != 0)
    return decontam.decontaminate(tr, ev, "text", "doc_id", n=3, seed=SEED)


def sql_decontaminate(n: int = 3) -> str:
    th = decontam.sql_token_hashes(_norm_sql("text"), SEED)
    grams = decontam.sql_word_ngram_hashes(n)
    return f"""
WITH th AS (SELECT doc_id, {th} AS __th FROM documents),
g AS (SELECT doc_id, {grams} AS gs FROM th),
tg AS (SELECT doc_id, unnest(gs) AS gr FROM g WHERE doc_id % 97 <> 0),
eg AS (SELECT DISTINCT unnest(gs) AS gr FROM g WHERE doc_id % 97 = 0)
SELECT tg.doc_id, count(*) AS n_shared
FROM tg JOIN eg USING (gr)
GROUP BY tg.doc_id
"""


_SEMDEDUP_K = 16
_SEMDEDUP_TAU = 0.45  # synthetic embeddings have no true near-dups
# (max pairwise cosine ~0.51 at sf0.01), so the registry entry prunes
# aggressively to exercise the drop path; production SemDeDup uses ~0.95+


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means bucket the embeddings (hash-seeded, 1 Lloyd
    step), drop any vector with a >= tau cosine twin of smaller id in
    its cluster; emit the kept (vec_id, cid). The cid column makes the
    oracle verify the entire clustering replay, not just the survivor
    set."""
    e = _spread(spark, _read(spark, sf_dir, "embeddings"))
    return semdedup_ops.semdedup(
        e, n_clusters=_SEMDEDUP_K, threshold=_SEMDEDUP_TAU, seed=SEED, iters=1
    )


def sql_semdedup(n_clusters: int = _SEMDEDUP_K, tau: float = _SEMDEDUP_TAU, dim: int = 64, seed: int = SEED) -> str:
    """DuckDB twin: the shared seed/Lloyd skeleton
    (``_sql_ivf_cent1_ctes`` — same CTEs as sql_knn_ivf, so the two
    oracles cannot drift), nearest-centroid assignment, and the
    smaller-id-wins drop rule over pre-normalized dot products."""
    cos = _SQL_IVF_COS
    return f"""
WITH {_sql_ivf_cent1_ctes(n_clusters, dim, seed)},
inv AS (
  SELECT cid, vec_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
  FROM (
    SELECT c.vec_id, c.v, k.cid,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {cos.format(a='c.v', b='k.cvec')} DESC, k.cid ASC) AS rn
    FROM corpus c CROSS JOIN cent1 k)
  WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT y.vec_id
  FROM inv x JOIN inv y ON x.cid = y.cid AND x.vec_id < y.vec_id
  WHERE round(list_dot_product(x.nv, y.nv), 6) >= {tau}
)
SELECT vec_id, cid FROM inv WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
"""


def q_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cheap quality scoring: per-document cross-entropy
    against the corpus's own unigram distribution. Vocabulary build is
    one token-shuffle groupBy; corpus N is a broadcast scalar, not a
    driver count."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    return lm.unigram_logprob_score(d, "text", "doc_id")


def sql_unigram_nll() -> str:
    return lm.sql_unigram_logprob_score(_norm_sql("text"), "doc_id", "documents")


def q_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One rung up the quality-filter ladder from unigram_nll:
    per-document cross-entropy under a Jelinek-Mercer interpolated
    bigram model (λ=0.7) estimated from the corpus itself — word-ORDER
    typicality, which the unigram score is blind to (scrambled or
    templated text shares the unigram profile of normal prose but pays
    a large bigram penalty). Three map-side-combinable count groupBys
    (bigram, left-context, unigram) + three AQE-splittable equi-joins
    back onto the exploded bigram stream; no window over a token key
    (see lm.bigram_logprob_score for the 100 TB top-V/OOV variant)."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    return lm.bigram_logprob_score(d, "text", "doc_id")


def sql_bigram_nll() -> str:
    return lm.sql_bigram_logprob_score(_norm_sql("text"), "doc_id", "documents")


_BIGRAM_TOP_V = 8


def q_bigram_nll_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WEB-SCALE face of bigram_nll under the gate: the top-V/OOV
    truncation (here V=8, small enough that the synthetic corpus's
    tail actually pools) that bounds all three count tables at (V+1)
    rows — broadcastable at any corpus size, the published CCNet
    recipe. Grading it separately pins the truncation machinery
    itself: deterministic top-V selection (count desc, token asc),
    OOV pooling before bigram construction, one document-bounded
    lead() window (lm.bigram_logprob_score_topv; pinned ≡ the exact
    face when V ≥ vocabulary in test_r10_ops)."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    return lm.bigram_logprob_score_topv(d, "text", "doc_id", top_v=_BIGRAM_TOP_V)


def sql_bigram_nll_oov() -> str:
    return lm.sql_bigram_logprob_score_topv(
        _norm_sql("text"), "doc_id", "documents", top_v=_BIGRAM_TOP_V
    )


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sub-document dedup signal: per document, how many of
    its 10-token chunks also occur in another document. One explode +
    one chunk-hash groupBy; per-doc roll-up is map-side combinable."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    return lm.chunk_dup_stats(d, "text", "doc_id", chunk_words=10)


def sql_chunk_dedup() -> str:
    return lm.sql_chunk_dup_stats(_norm_sql("text"), "doc_id", "documents", chunk_words=10)


def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into 8 training shards: shard id is
    a scan-side hash, within-shard order a second independent hash, so
    the layout is identical on any cluster size. The rank window is
    partitioned by shard — 8 parallel sorts, no single global sort."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    return packing.training_shards(d, "doc_id", n_shards=8, seed=SEED).select(
        "doc_id", "shard", "rank"
    )


def sql_training_shards() -> str:
    return packing.sql_training_shards("doc_id", "documents", 8, "doc_id, shard", seed=SEED)


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health report — the per-(source, lang) rollup every
    curation run starts with: doc/char volumes, length spread, and the
    exact-duplicate rate (docs sharing a normalized-text digest with
    another doc anywhere in the corpus). One digest groupBy + one
    rollup groupBy, both map-side combinable."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    digests = d.select(
        "source", "lang", "n_chars", dedup.text_digest(F.col("text")).alias("__fp")
    )
    owners = digests.groupBy("__fp").agg(F.count("*").alias("__copies"))
    return (
        digests.join(owners, "__fp")
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.sum(F.when(F.col("__copies") >= 2, 1).otherwise(0)).alias("n_dup_docs"),
        )
    )


SQL_CORPUS_REPORT = f"""
WITH digests AS (
  SELECT source, lang, n_chars, {_SQL_DIGEST} AS fp FROM documents
),
owners AS (SELECT fp, count(*) AS copies FROM digests GROUP BY 1)
SELECT source, lang, count(*) AS n_docs,
       sum(n_chars)::BIGINT AS total_chars,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       round(avg(n_chars), 4) AS avg_chars,
       sum(CASE WHEN owners.copies >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs
FROM digests JOIN owners USING (fp)
GROUP BY 1, 2
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters: users with >= 40 events, detected via a
    4x256 count-min sketch (register-exact md5 arithmetic — the oracle
    replays every counter). The sketch build is one bounded-state
    groupBy (1024 cells); the probe joins the broadcast sketch against
    the distinct keys. cm_est >= true count always, so no true heavy
    hitter is missed."""
    ev = read_events(spark, sf_dir)
    sk = sketches.countmin_build(ev, "user_id", seed=SEED)
    keys = ev.select(F.col("user_id").cast("string").alias("k")).distinct()
    est = sketches.countmin_estimate(keys, sk, "k", seed=SEED)
    return est.filter(F.col("cm_est") >= 40)


def sql_heavy_hitters() -> str:
    return sketches.sql_countmin_heavy_hitters("user_id", "events", 40, seed=SEED)


def q_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning: build a 4096-bit/5-hash bloom on
    the customer keys that appear in orders, probe every customer, and
    emit each customer's maybe/definitely-not verdict next to ground
    truth. bf_maybe = false ⇒ has_orders = false (no false negatives) —
    the invariant the oracle hash-checks row by row. At 100 TB the
    bitmap (64 longs) broadcasts to every scan task and prunes the big
    side before any shuffle."""
    orders = _read(spark, sf_dir, "orders").select(F.col("o_custkey").alias("ck"))
    cust = _spread(spark, _read(spark, sf_dir, "customer")).select("c_custkey")
    bitmap = sketches.bloom_build(orders, "ck", seed=SEED)
    probed = sketches.bloom_probe(cust, bitmap, "c_custkey", seed=SEED)
    truth = orders.distinct().withColumnRenamed("ck", "c_custkey").withColumn(
        "has_orders", F.lit(True)
    )
    return (
        probed.join(truth, "c_custkey", "left")
        .select(
            "c_custkey",
            "bf_maybe",
            F.coalesce("has_orders", F.lit(False)).alias("has_orders"),
        )
    )


def sql_bloom_probe() -> str:
    probe = sketches.sql_bloom_probe(
        "ck", "(SELECT o_custkey AS ck FROM orders)", "c_custkey", "customer", seed=SEED
    )
    return f"""
WITH bf AS ({probe})
SELECT c.c_custkey, bf.bf_maybe,
       (c.c_custkey IN (SELECT o_custkey FROM orders)) AS has_orders
FROM customer c JOIN bf ON bf.k = c.c_custkey
"""


_MIX_SHARES = {"en": 0.5, "zh": 0.2, "de": 0.15, "fr": 0.1, "es": 0.05}


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture construction: resample documents so kept char
    mass approaches 50/20/15/10/5 en/zh/de/fr/es within half the
    corpus's total chars (budget computed in-plan — one config scales
    across corpus sizes). Per-stratum availability is a broadcast join;
    the keep rule is the deterministic scan-side hash threshold."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    kept = mixing.mixture_sample_relative(
        d, "doc_id", "lang", "n_chars", _MIX_SHARES, budget_frac=0.5, seed=SEED
    )
    return kept.select("doc_id", "lang", "n_chars")


def sql_mixture_sample() -> str:
    return mixing.sql_mixture_sample_relative(
        "doc_id",
        "lang",
        "n_chars",
        "documents",
        _MIX_SHARES,
        0.5,
        "doc_id, lang, n_chars",
        seed=SEED,
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship end-to-end curation pipeline — the four stages a
    pretraining corpus actually goes through, composed from the
    engine's own operators:

        exact dedup (lowest-id survivor per normalized text)
        → benchmark decontamination (drop docs sharing a 3-gram with
          the doc_id%97==0 eval set; dedup itself already removed
          verbatim eval copies)
        → language-mixture resampling (50/20/15/10/5 en/zh/de/fr/es
          toward half the remaining char mass, budget in-plan)
        → deterministic shard layout (8 shards, hash order)

    Emits (doc_id, lang, shard, rank). Every stage keeps its scale
    shape (scan-side predicates, broadcast gram set / availability,
    per-shard parallel rank windows), and the DuckDB oracle replays
    the whole chain as nested CTEs — one hash over the composed result
    verifies all four stages at once."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    dd = dedup.exact_dedup(d, "text", "doc_id")
    ev = d.filter(F.col("doc_id") % 97 == 0)
    # tr feeds BOTH the decontamination gram join and the survivor
    # anti-join; materialize the dedup window's output once instead of
    # recomputing its shuffle per consumer (measured ~25% at sf0.1 —
    # strategy via SPARK_GRAFT_MATERIALIZE, see operators/materialize.py).
    tr = materialize(dd.filter(F.col("doc_id") % 97 != 0), eager=False)
    flagged = decontam.decontaminate(tr, ev, "text", "doc_id", n=3, seed=SEED)
    clean = tr.join(flagged.select("doc_id"), "doc_id", "left_anti")
    mx = mixing.mixture_sample_relative(
        clean, "doc_id", "lang", "n_chars", _MIX_SHARES, budget_frac=0.5, seed=SEED
    )
    return packing.training_shards(mx, "doc_id", n_shards=8, seed=SEED).select(
        "doc_id", "lang", "shard", "rank"
    )


def sql_curation_pipeline() -> str:
    th = decontam.sql_token_hashes(_norm_sql("text"), SEED)
    grams = decontam.sql_word_ngram_hashes(3)
    mx = mixing.sql_mixture_sample_relative(
        "doc_id", "lang", "n_chars", "clean", _MIX_SHARES, 0.5,
        "doc_id, lang, n_chars", seed=SEED,
    )
    shards = packing.sql_training_shards("doc_id", "mx", 8, "doc_id, lang, shard", seed=SEED)
    return f"""
WITH dd AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY {_SQL_DIGEST} ORDER BY doc_id ASC) AS rn
    FROM documents)
  WHERE rn = 1
),
tr AS (SELECT doc_id, text, lang, n_chars FROM dd WHERE doc_id % 97 <> 0),
evth AS (SELECT {th} AS __th FROM documents WHERE doc_id % 97 = 0),
eg AS (SELECT DISTINCT unnest({grams}) AS gr FROM evth),
trth AS (SELECT doc_id, {th} AS __th FROM tr),
tg AS (SELECT doc_id, unnest(gs) AS gr FROM (SELECT doc_id, {grams} AS gs FROM trth)),
flagged AS (SELECT DISTINCT tg.doc_id FROM tg JOIN eg USING (gr)),
clean AS (SELECT tr.* FROM tr WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
mx AS ({mx}),
sh AS ({shards})
SELECT doc_id, lang, shard, rank FROM sh
"""


# ---------------------------------------------------------------------------
# Round 5: incremental curation ops (survivor selection, batch-vs-corpus
# dedup, LSH calibration, filter tuning, ANN evaluation, frame sampling,
# event-gap stats)
# ---------------------------------------------------------------------------

_SQL_ALPHA_FRAC = (
    "round(coalesce(len(list_filter(t, x -> regexp_full_match(x, '[a-z]+')))::DOUBLE"
    " / nullif(len(t), 0), 0), 6)"
)


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact-dedup: each duplicate group keeps its
    highest-alpha-fraction member (id as tiebreak) instead of its first.
    One digest shuffle, score computed in the same projection
    (operators/dedup.quality_survivors)."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    return dedup.quality_survivors(d, "text", "doc_id", quality.alpha_word_fraction(F.col("text"))).select(
        "doc_id", "quality_score", "n_dups"
    )


def sql_dedup_survivors() -> str:
    return f"""
WITH s AS (
  SELECT doc_id, {_SQL_DIGEST} AS dg, {_SQL_ALPHA_FRAC} AS q
  FROM (SELECT doc_id, text, {_toks_sql('text')} AS t FROM documents)
)
SELECT doc_id, q AS quality_score, n_dups FROM (
  SELECT doc_id, q,
         row_number() OVER (PARTITION BY dg ORDER BY q DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY dg) AS n_dups
  FROM s)
WHERE rn = 1
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus dedup (the nightly-ingest shape): docs with
    doc_id % 10 >= 8 are the new batch, the rest the standing corpus;
    each batch doc is flagged exact-dup (digest already in corpus) and
    near-dup (shares a MinHash LSH band bucket with a corpus doc).
    Two small-key joins, no corpus self-join
    (operators/dedup.incremental_dedup_flags)."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    return dedup.incremental_dedup_flags(
        d, "text", "doc_id", (F.col("doc_id") % 10) >= 8, num_perm=32, bands=8, seed=SEED,
        materialize_keyed=True,
    )


def sql_dedup_incremental(num_perm: int = 32, bands: int = 8) -> str:
    return f"""
WITH sig AS ({_sql_minhash_sig_array(num_perm)}),
dg AS (SELECT doc_id, {_SQL_DIGEST} AS dg FROM documents),
{_sql_lsh_bands(num_perm, bands)},
ex AS (
  SELECT DISTINCT a.doc_id FROM dg a JOIN dg c ON a.dg = c.dg
  WHERE a.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
),
nr AS (
  SELECT DISTINCT a.doc_id FROM bands a JOIN bands c ON a.b = c.b AND a.bhash = c.bhash
  WHERE a.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
)
SELECT doc_id,
       doc_id IN (SELECT doc_id FROM ex) AS exact_dup,
       doc_id IN (SELECT doc_id FROM nr) AS near_dup
FROM documents WHERE doc_id % 10 >= 8
"""


def q_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banding-parameter tuning: per candidate pair, signature
    estimate vs the exact Jaccard over distinct word-3-gram hash sets
    (the quantity MinHash actually estimates) and the absolute error.
    Same single (band, bhash) shuffle as the candidate generator; the
    verify join ships int arrays, not texts."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    return dedup.lsh_calibration(d, "text", "doc_id", num_perm=32, bands=8, seed=SEED)


def sql_lsh_calibration(num_perm: int = 32, bands: int = 8) -> str:
    return f"""
WITH sig AS ({_sql_minhash_sig_array(num_perm, src='(SELECT * FROM documents WHERE text IS NOT NULL)')}),
gh AS (
  SELECT doc_id, list_distinct(base_h) AS g FROM (
    {_sql_base_h('(SELECT * FROM documents WHERE text IS NOT NULL)')})
),
{_sql_lsh_bands(num_perm, bands)},
{_SQL_LSH_PAIRS},
est AS (
  SELECT p.id_a, p.id_b,
         len(list_filter(generate_series(1, {num_perm}), i -> sa.sig[i] = sb.sig[i])) / {num_perm}.0 AS est
  FROM pairs p JOIN sig sa ON sa.doc_id = p.id_a JOIN sig sb ON sb.doc_id = p.id_b
),
ex AS (
  SELECT e.id_a, e.id_b, e.est,
         CASE WHEN len(list_distinct(list_concat(ga.g, gb.g))) = 0 THEN 1.0
              ELSE len(list_intersect(ga.g, gb.g))::DOUBLE / len(list_distinct(list_concat(ga.g, gb.g))) END AS exact
  FROM est e JOIN gh ga ON ga.doc_id = e.id_a JOIN gh gb ON gb.doc_id = e.id_b
)
SELECT id_a, id_b, round(est, 4) AS est_jaccard, round(exact, 4) AS exact_jaccard,
       round(abs(est - exact), 4) AS abs_err
FROM ex
"""


_SWEEP_THRESHOLDS = [x / 10.0 for x in range(10)]


def q_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival curve for the alpha-word-fraction filter: docs and
    tokens surviving each candidate threshold, from ONE corpus pass
    (operators/quality.threshold_sweep)."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    return quality.threshold_sweep(d, "text", _SWEEP_THRESHOLDS)


def sql_quality_threshold_sweep() -> str:
    th_list = ", ".join(str(x) for x in _SWEEP_THRESHOLDS)
    return f"""
WITH s AS (
  SELECT {_SQL_ALPHA_FRAC} AS score, len(t) AS ntok
  FROM (SELECT {_toks_sql('text')} AS t FROM documents)
)
SELECT threshold,
       count(CASE WHEN score >= threshold THEN 1 END) AS n_docs,
       coalesce(sum(CASE WHEN score >= threshold THEN ntok END), 0)::BIGINT AS n_tokens
FROM s CROSS JOIN (SELECT unnest([{th_list}]::DOUBLE[]) AS threshold)
GROUP BY threshold
"""


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality monitoring: recall@5 of the hyperplane-LSH ANN
    against the brute-force ground truth, per query vector. Both sides
    are deterministic, so the DuckDB twin replays them exactly."""
    emb = _read(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    bf = similarity.brute_force_topk(emb, qs, k=5).select("query_id", "neighbor_id")
    approx = similarity.lsh_topk(emb, qs, dim=64, k=5, n_planes=8).select("query_id", "neighbor_id")
    hits = (
        bf.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        bf.groupBy("query_id")
        .agg(F.count("*").alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
            F.round(F.coalesce(F.col("n_hits"), F.lit(0).cast("long")) / F.lit(5.0), 4).alias("recall"),
        )
    )


def sql_ann_recall_eval() -> str:
    return f"""
WITH bf AS (SELECT query_id, neighbor_id FROM ({SQL_KNN}) t),
approx AS (SELECT query_id, neighbor_id FROM ({sql_knn_lsh()}) t)
SELECT bf.query_id,
       count(approx.neighbor_id) AS n_hits,
       round(count(approx.neighbor_id) / 5.0, 4) AS recall
FROM bf LEFT JOIN approx ON bf.query_id = approx.query_id AND bf.neighbor_id = approx.neighbor_id
GROUP BY bf.query_id
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing end-to-end: one media row explodes
    to N frame rows through the Arrow-batched mapInPandas stage; the
    stub digest chains md5 over lowercase-hex strings so every frame
    digest is reproduced by the DuckDB twin (same contract as
    multimodal_features)."""
    m = _media_df(spark, sf_dir)
    frames = multimodal.frame_sample_stub(
        m, "media", every_ms=1000, digest_fn=multimodal.hex_chain_frame_digest
    )
    return frames.select(
        "doc_id", "frame_index", "frame_ts_ms", F.decode("frame", "UTF-8").alias("frame_digest")
    )


def sql_frame_sample() -> str:
    magic_case = (
        "CASE doc_id % 4 "
        + " ".join(f"WHEN {k} THEN '{_MAGIC[k].lower()}'" for k in (0, 1, 2))
        + f" ELSE '{_MAGIC[3].lower()}' END"
    )
    return f"""
WITH m AS (
  SELECT doc_id,
         {magic_case} || lower(hex(encode(text))) AS mh,
         4 + octet_length(encode(text)) AS blen
  FROM documents
)
SELECT doc_id,
       i AS frame_index,
       (i * 1000)::BIGINT AS frame_ts_ms,
       md5(mh || printf('%02x', i)) AS frame_digest
FROM m CROSS JOIN LATERAL (SELECT unnest(generate_series(0, blen % 4)) AS i) f
"""


def q_user_dwell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics via lag(): engagement/dwell
    signal. The lag window and the groupBy share the user_id hash
    partitioning, so the plan has ONE shuffle."""
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.unix_millis(F.col("ts")) - F.unix_millis(F.lag("ts").over(w))
    return (
        ev.select("user_id", gap.alias("__gap"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.count("__gap").alias("n_gaps"),
            F.round(F.avg("__gap"), 2).alias("avg_gap_ms"),
            F.max("__gap").alias("max_gap_ms"),
        )
    )


SQL_USER_DWELL = """
WITH g AS (
  SELECT user_id,
         epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
  FROM events
)
SELECT user_id, count(*) AS n_events, count(gap) AS n_gaps,
       round(avg(gap), 2) AS avg_gap_ms, max(gap) AS max_gap_ms
FROM g GROUP BY user_id
"""


def q_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs click→purchase attribution within 1 hour — the BATCH
    face of the watermarked stream-stream interval join
    (streaming/joins.attribution_join; batch ≡ stream is pinned in
    test_streaming_joins.py). Complements the funnel entry: the funnel
    reports first-click conversion per user; attribution reports EVERY
    (click, purchase) pair inside the window — the ad-attribution /
    touchpoint-credit shape. Equi hash join on user_id with the time
    bound as a residual condition (no nested loop); in streaming form
    the same condition bounds the join state via both watermarks."""
    from rustic_witcher_spark.streaming.joins import attribution_join

    ev = read_events(spark, sf_dir).select("user_id", "event_type", "ts")
    c = ev.filter(F.col("event_type") == "click").select("user_id", F.col("ts").alias("click_ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    return (
        attribution_join(c, p, streaming=False)
        .select(
            "user_id",
            _fmt(F.col("click_ts")).alias("click_at"),
            _fmt(F.col("purchase_ts")).alias("purchase_at"),
            "lag_seconds",
        )
        .orderBy("user_id", "click_at", "purchase_at")
    )


SQL_CLICK_ATTRIBUTION = """
SELECT c.user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_at,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_at,
       floor(epoch(p.ts))::BIGINT - floor(epoch(c.ts))::BIGINT AS lag_seconds
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
ORDER BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# (7) round-6 warehouse-ops additions: SCD2 history, profiling/auditing,
#     gap-fill, mergeable histograms, Z-order layout, span-level dedup
# ---------------------------------------------------------------------------


def q_scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build from the event log: collapse each user's
    consecutive same-state events into validity intervals
    [valid_from, valid_to) with an open current version. The complement
    of CDC's last-writer-wins merge (J1): keep EVERY version,
    queryable by time. Both windows + the run groupBy share ONE
    user_id hash partitioning — a single Exchange in the whole plan."""
    ev = read_events(spark, sf_dir)
    hist = scd2.scd2_intervals(
        ev, ["user_id"], ["event_type"], "ts", tiebreak_cols=["event_id"]
    )
    return hist.select(
        "user_id",
        F.col("event_type").alias("state"),
        _fmt(F.col("valid_from")).alias("valid_from"),
        _fmt(F.col("valid_to")).alias("valid_to"),
        "is_current",
        "n_changes",
    ).orderBy(
        # (user_id, valid_from) alone is ambiguous when same-ts changes
        # produce zero-length intervals sharing a valid_from — the r05
        # q12 failure class. (state, valid_to) breaks every such tie
        # (consecutive runs differ in state; an a-b-a pattern repeats a
        # state but with distinct valid_to). nulls_last matches
        # DuckDB's ASC default for the open interval's NULL.
        F.col("user_id").asc(),
        F.col("valid_from").asc(),
        F.col("state").asc(),
        F.col("valid_to").asc_nulls_last(),
    )


SQL_SCD2_HISTORY = """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS is_new
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run
  FROM marked
),
per_run AS (
  SELECT user_id, run, min(event_type) AS state,
         min(ts) AS vf, count(*) AS n_changes
  FROM runs GROUP BY user_id, run
)
SELECT user_id, state,
       strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(lead(vf) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to,
       (lead(vf) OVER w2 IS NULL) AS is_current,
       n_changes
FROM per_run
WINDOW w2 AS (PARTITION BY user_id ORDER BY run)
ORDER BY user_id, valid_from, state, valid_to
"""

_SCD2_AT = "2024-01-15 00:00:00"


def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time snapshot over the SCD2 history: each user's single
    valid state at a fixed timestamp. A pure filter over the interval
    table — no join, no window beyond the history build; on a
    date-partitioned history table this predicate prunes files."""
    ev = read_events(spark, sf_dir)
    hist = scd2.scd2_intervals(
        ev, ["user_id"], ["event_type"], "ts", tiebreak_cols=["event_id"]
    )
    snap = scd2.scd2_snapshot(hist, _SCD2_AT)
    return snap.select(
        "user_id",
        F.col("event_type").alias("state"),
        _fmt(F.col("valid_from")).alias("state_since"),
    ).orderBy("user_id")


SQL_SCD2_SNAPSHOT = f"""
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS is_new
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run
  FROM marked
),
per_run AS (
  SELECT user_id, run, min(event_type) AS state,
         min(ts) AS vf, count(*) AS n_changes
  FROM runs GROUP BY user_id, run
),
hist AS (
  SELECT user_id, state, vf, lead(vf) OVER (PARTITION BY user_id ORDER BY run) AS vt
  FROM per_run
)
SELECT user_id, state, strftime(vf, '%Y-%m-%d %H:%M:%S') AS state_since
FROM hist
WHERE vf <= TIMESTAMP '{_SCD2_AT}' AND (vt IS NULL OR vt > TIMESTAMP '{_SCD2_AT}')
ORDER BY user_id
"""

def q_purchases_with_state_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 CONSUMPTION — the reason histories exist: enrich a fact
    with the dimension's state AS OF each fact row's time. Here: every
    purchase tagged with what the user was doing just before it (SCD2
    over the user's non-purchase events; 'what state converts').
    The interval-containment join keeps user_id as the hash-join equi
    key with the [valid_from, valid_to) bound as a residual — never a
    nested loop; history build + join share one user_id partitioning.
    Half-open disjoint intervals guarantee at most one match per
    purchase (zero-length intervals can contain nothing)."""
    ev = read_events(spark, sf_dir)
    hist = scd2.scd2_intervals(
        ev.filter(F.col("event_type") != "purchase"),
        ["user_id"],
        ["event_type"],
        "ts",
        tiebreak_cols=["event_id"],
    )
    # both sides derive from the same events scan — alias explicitly so
    # the join condition never leans on Spark's dataset-id self-join
    # disambiguation heuristic (which warns today and hard-fails once
    # lineage is transformed or cached)
    # ts IS NOT NULL: a purchase with no timestamp has no as-of
    # position — and its 'none' output row would sort NULLS FIRST in
    # Spark but NULLS LAST in DuckDB (dirty-stream fuzz class, r9)
    p = (
        ev.filter((F.col("event_type") == "purchase") & F.col("ts").isNotNull())
        .select("user_id", F.col("ts").alias("purchase_ts"), "event_id", "value")
        .alias("p")
    )
    h = hist.alias("h")
    j = p.join(
        h,
        (F.col("p.user_id") == F.col("h.user_id"))
        & (F.col("p.purchase_ts") >= F.col("h.valid_from"))
        & (F.col("h.valid_to").isNull() | (F.col("p.purchase_ts") < F.col("h.valid_to"))),
        "left",
    )
    return j.select(
        F.col("p.user_id").alias("user_id"),
        _fmt(F.col("p.purchase_ts")).alias("purchase_at"),
        F.col("p.event_id").alias("event_id"),
        F.round(F.col("p.value"), 2).alias("value"),
        F.coalesce(F.col("h.event_type"), F.lit("none")).alias("state_before"),
    ).orderBy("user_id", "purchase_at", "event_id")


SQL_PURCHASES_STATE_ASOF = """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS is_new
  FROM events WHERE event_type <> 'purchase' AND ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run
  FROM marked
),
per_run AS (
  SELECT user_id, run, min(event_type) AS state, min(ts) AS vf, count(*) AS n_changes
  FROM runs GROUP BY user_id, run
),
hist AS (
  SELECT user_id, state, vf, lead(vf) OVER (PARTITION BY user_id ORDER BY run) AS vt
  FROM per_run
)
SELECT p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_at,
       p.event_id, round(p.value, 2) AS value,
       coalesce(h.state, 'none') AS state_before
FROM events p
LEFT JOIN hist h
  ON h.user_id = p.user_id AND p.ts >= h.vf AND (h.vt IS NULL OR p.ts < h.vt)
WHERE p.event_type = 'purchase' AND p.ts IS NOT NULL
ORDER BY 1, 2, 3
"""

def q_state_tier_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2011-style TEMPORAL JOIN of two SCD2 histories
    (scd2.temporal_join): per user, the activity-state history joined
    with a loyalty-tier history (tier = running purchase count bucket,
    itself an SCD2 build over the purchase stream) — one row per time
    segment where BOTH are constant. Equi hash join on user_id with
    the interval-overlap condition as residual; per-key output is at
    most |A|+|B| segments (disjoint inputs), so no quadratic risk.
    All three stages (two history builds + the join) share the
    user_id hash partitioning."""
    ev = read_events(spark, sf_dir)
    state_hist = scd2.scd2_intervals(
        ev, ["user_id"], ["event_type"], "ts", tiebreak_cols=["event_id"]
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # ts IS NOT NULL: a purchase with no timestamp has no position in
    # the running count (and NULLS FIRST/LAST divergence would shift
    # every later purchase's tier — dirty-stream fuzz, r9)
    p = (
        ev.filter((F.col("event_type") == "purchase") & F.col("ts").isNotNull())
        .withColumn("__cnt", F.row_number().over(w))
        .withColumn(
            "tier",
            F.when(F.col("__cnt") >= 10, "gold")
            .when(F.col("__cnt") >= 3, "silver")
            .otherwise("bronze"),
        )
    )
    tier_hist = scd2.scd2_intervals(p, ["user_id"], ["tier"], "ts", tiebreak_cols=["event_id"])
    t = scd2.temporal_join(state_hist, tier_hist, ["user_id"])
    return t.select(
        "user_id",
        F.col("a_event_type").alias("state"),
        F.col("b_tier").alias("tier"),
        _fmt(F.col("valid_from")).alias("seg_from"),
        _fmt(F.col("valid_to")).alias("seg_to"),
    ).orderBy(
        F.col("user_id").asc(),
        F.col("seg_from").asc(),
        F.col("state").asc(),
        F.col("tier").asc(),
        F.col("seg_to").asc_nulls_last(),
    )


SQL_STATE_TIER_TIMELINE = """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS is_new
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run FROM marked
),
state_hist AS (
  SELECT user_id, state, vf, lead(vf) OVER (PARTITION BY user_id ORDER BY run) AS vt
  FROM (SELECT user_id, run, min(event_type) AS state, min(ts) AS vf
        FROM runs GROUP BY user_id, run)
),
purch AS (
  SELECT user_id, ts, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS cnt
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
),
tiers AS (
  SELECT user_id, ts, event_id,
         CASE WHEN cnt >= 10 THEN 'gold' WHEN cnt >= 3 THEN 'silver' ELSE 'bronze' END AS tier
  FROM purch
),
tmarked AS (
  SELECT user_id, tier, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR lag(tier) OVER w IS DISTINCT FROM tier
              THEN 1 ELSE 0 END AS is_new
  FROM tiers
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
truns AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run FROM tmarked
),
tier_hist AS (
  SELECT user_id, tier, vf, lead(vf) OVER (PARTITION BY user_id ORDER BY run) AS vt
  FROM (SELECT user_id, run, min(tier) AS tier, min(ts) AS vf
        FROM truns GROUP BY user_id, run)
),
far AS (SELECT TIMESTAMP '9999-01-01 00:00:00' AS inf)
SELECT a.user_id, a.state, b.tier,
       strftime(greatest(a.vf, b.vf), '%Y-%m-%d %H:%M:%S') AS seg_from,
       strftime(CASE WHEN least(coalesce(a.vt, f.inf), coalesce(b.vt, f.inf)) < f.inf
                     THEN least(coalesce(a.vt, f.inf), coalesce(b.vt, f.inf)) END,
                '%Y-%m-%d %H:%M:%S') AS seg_to
FROM state_hist a
JOIN tier_hist b ON b.user_id = a.user_id
CROSS JOIN far f
WHERE a.vf < coalesce(b.vt, f.inf) AND b.vf < coalesce(a.vt, f.inf)
ORDER BY 1, 4, 2, 3, 5 NULLS LAST
"""


_PROFILE_COLS = ["l_orderkey", "l_quantity", "l_discount", "l_returnflag"]


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profiling of lineitem (nulls, exact NDV,
    min/max) in long format — drift detection / config generation /
    optimizer-stats input. Exact NDVs run as per-column two-phase hash
    aggregates reassembled by broadcast join — NOT the multi-distinct
    Expand rewrite (measured 6x slower at sf0.1);
    profile.column_profile(exact=False) is the one-aggregate HLL++
    100 TB path. Map-side partials everywhere: each shuffle carries
    one row per partition."""
    li = _read(spark, sf_dir, "lineitem")
    return profile.column_profile(li, _PROFILE_COLS, exact=True).orderBy("column")


def sql_column_profile() -> str:
    parts = [
        f"""SELECT '{c}' AS "column", count(*) AS n_rows,
       sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       min({c})::VARCHAR AS min_value, max({c})::VARCHAR AS max_value
FROM lineitem"""
        for c in _PROFILE_COLS
    ]
    return "\nUNION ALL\n".join(parts) + '\nORDER BY "column"'


_RI_CHECKS: list[tuple[str, str, str, str, str, bool]] = [
    # (name, child table, child key, parent table, parent key, parent-is-dim)
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey", True),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey", True),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey", True),
]


def q_ri_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit after an export/anonymization run:
    per FK edge, child-row count and orphan count (child rows whose
    parent key vanished). One pass per edge: LEFT join against the
    parent's distinct keys + conditional count — dim-table parents are
    broadcast (zero fact shuffle); the fact-fact edge
    (lineitem->orders) is left to AQE, which shuffles both sides on
    the key — the correct 100 TB plan. Generalizes the reference's
    validation predicates (SURVEY §2.10 O9) to cross-table invariants."""
    out = None
    for name, child_t, ck, parent_t, pk, is_dim in _RI_CHECKS:
        row = profile.ri_orphan_counts(
            _read(spark, sf_dir, child_t),
            ck,
            _read(spark, sf_dir, parent_t),
            pk,
            name,
            broadcast_parent=is_dim,
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("check_name")


def sql_ri_orphans() -> str:
    parts = [
        f"""SELECT '{name}' AS check_name, count(*) AS n_child_rows,
       sum(CASE WHEN p.__k IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_orphans
FROM {child_t} c LEFT JOIN (SELECT DISTINCT {pk} AS __k FROM {parent_t}) p
  ON c.{ck} = p.__k"""
        for name, child_t, ck, parent_t, pk, _ in _RI_CHECKS
    ]
    return "\nUNION ALL\n".join(parts) + "\nORDER BY check_name"


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap fill: per (event_type, hour) event
    counts over a COMPLETE hourly spine — missing hours appear with
    zeros (the shape every downstream charting/anomaly job wants).
    Scale shape: the fact table is aggregated FIRST (one map-side
    combinable groupBy); the spine is generated from a 1-row global
    min/max aggregate via sequence+explode (never a driver loop) and
    is tiny (#hours x #types), so the final LEFT join broadcasts the
    aggregated counts — zero extra shuffle."""
    ev = read_events(spark, sf_dir)
    counts = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("__n"), F.round(F.sum("value"), 2).alias("__sv"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour_ts")
    )
    types = ev.select("event_type").distinct()
    spine = hours.crossJoin(F.broadcast(types))
    return (
        spine.join(F.broadcast(counts), ["event_type", "hour_ts"], "left")
        .select(
            "event_type",
            _fmt(F.col("hour_ts")).alias("hour_ts"),
            F.coalesce(F.col("__n"), F.lit(0)).alias("n_events"),
            F.coalesce(F.col("__sv"), F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("event_type", "hour_ts")
    )


SQL_EVENTS_GAPFILL = """
WITH counts AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts,
         count(*) AS n, round(sum(value), 2) AS sv
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
),
spine AS (
  SELECT t.event_type, unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS hour_ts
  FROM bounds b CROSS JOIN (SELECT DISTINCT event_type FROM events) t
)
SELECT s.event_type, strftime(s.hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_ts,
       coalesce(c.n, 0) AS n_events, coalesce(c.sv, 0.0) AS sum_value
FROM spine s LEFT JOIN counts c
  ON c.event_type = s.event_type AND c.hour_ts = s.hour_ts
ORDER BY 1, 2
"""


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection over the gap-filled hourly series:
    hours whose count deviates >2 population-stddevs from the type's
    mean rate. Composes events_gapfill (zero-filled spine — WITHOUT
    gap fill, silent outage hours are invisible to the detector, which
    is exactly the incident class this query exists to catch). The
    mean/std window runs over the tiny spine, not the fact table; at
    100 TB the fact is reduced to #hours x #types rows before any
    window. Population stddev (stddev_pop) matches the oracle exactly;
    z is rounded before the threshold compare so engine ULP noise
    cannot flip membership."""
    series = q_events_gapfill(spark, sf_dir)
    wt = Window.partitionBy("event_type")
    std = F.stddev_pop(F.col("n_events").cast("double")).over(wt)
    # guard the constant-series case: stddev 0 must yield NULL (no
    # anomaly), not an ANSI DIVIDE_BY_ZERO (Spark 4 default) / NaN —
    # and DuckDB returns NULL for 0.0/0.0, so the guard also keeps the
    # two engines row-identical
    z = F.when(
        std > 0,
        F.round((F.col("n_events") - F.avg("n_events").over(wt)) / std, 4),
    )
    return (
        series.withColumn("z_score", z)
        .filter(F.abs(F.col("z_score")) > 2.0)
        .select("event_type", "hour_ts", "n_events", "z_score")
        .orderBy("event_type", "hour_ts")
    )


SQL_EVENTS_ANOMALY = f"""
WITH series AS ({SQL_EVENTS_GAPFILL.replace("ORDER BY 1, 2", "")}),
scored AS (
  SELECT event_type, hour_ts, n_events,
         CASE WHEN stddev_pop(n_events) OVER w > 0
              THEN round((n_events - avg(n_events) OVER w)
                         / stddev_pop(n_events) OVER w, 4)
         END AS z_score
  FROM series
  WINDOW w AS (PARTITION BY event_type)
)
SELECT event_type, hour_ts, n_events, z_score
FROM scored WHERE abs(z_score) > 2.0
ORDER BY 1, 2
"""


def q_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable log2-bucket histogram of event values per type, with
    per-type share and cumulative share. The bucket id is EXACT integer
    arithmetic (length of the binary rep of floor(value)+1, not
    float log2 — immune to libm last-ulp differences across engines).
    Fixed buckets make the histogram algebraically mergeable across
    partitions/days at 100 TB (unlike exact percentiles); the CDF
    window runs over ~#types x #buckets rows, not the data. The bucket
    aggregate IS windows.value_histogram — the streaming face shares
    this exact code, so batch and stream cannot drift."""
    ev = read_events(spark, sf_dir)
    h = windows.value_histogram(ev, "value", keys=["event_type"])
    return _histogram_finalize(h)


def _histogram_finalize(h: DataFrame) -> DataFrame:
    """Shared finalization over a (event_type, bucket, n) count table —
    the batch entry and the streaming-gate entry (histogram_incremental,
    whose count table is a complete-mode state-store snapshot) both run
    THIS code, so the two faces cannot drift. The windows run over
    ~#types x #buckets rows, never the data."""
    wt = Window.partitionBy("event_type")
    wc = Window.partitionBy("event_type").orderBy("bucket")
    return (
        h.withColumn("lo", F.pow(F.lit(2.0), F.col("bucket")).cast("long") - 1)
        .withColumn("share", F.round(F.col("n") / F.sum("n").over(wt), 6))
        .withColumn("cum_share", F.round(F.sum("n").over(wc) / F.sum("n").over(wt), 6))
        .select("event_type", "bucket", "lo", "n", "share", "cum_share")
        .orderBy("event_type", "bucket")
    )


SQL_LATENCY_HISTOGRAM = """
WITH h AS (
  SELECT event_type,
         length(bin((floor(value) + 1)::BIGINT)) - 1 AS bucket,
         count(*) AS n
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, bucket, power(2, bucket)::BIGINT - 1 AS lo, n,
       round(n / sum(n) OVER (PARTITION BY event_type), 6) AS share,
       round(sum(n) OVER (PARTITION BY event_type ORDER BY bucket)
             / sum(n) OVER (PARTITION BY event_type), 6) AS cum_share
FROM h
ORDER BY event_type NULLS FIRST, bucket
"""
# ^ value IS NOT NULL mirrors value_histogram's drop; NULLS FIRST pins
# the NULL event_type group to Spark's ASC default (dirty fuzz, r9).

def q_session_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence analytics: the event-type transition matrix (Markov
    first-order counts) over per-user event streams — 'what do users
    do NEXT after X' — with each row's share of its source state.
    lag() over (user_id; ts, event_id) shares its hash partitioning
    with nothing downstream of the tiny (from,to) aggregate; one data
    shuffle on user_id, one map-side-combinable rollup to a
    #types x #types matrix. The share window runs over that matrix,
    not the data."""
    # ts IS NOT NULL: a timestamp-less event has no position in the
    # sequence — and a NULL sort key orders NULLS FIRST in Spark but
    # NULLS LAST in DuckDB, silently changing the transition pairs
    # (dirty-stream fuzz finding, r9)
    ev = read_events(spark, sf_dir).filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    pairs = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    m = pairs.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    wf = Window.partitionBy("from_type")
    return (
        m.withColumn("share", F.round(F.col("n") / F.sum("n").over(wf), 6))
        .orderBy("from_type", "to_type")
    )


SQL_SESSION_TRANSITIONS = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events WHERE ts IS NOT NULL
),
m AS (
  SELECT from_type, to_type, count(*) AS n
  FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       round(n / sum(n) OVER (PARTITION BY from_type), 6) AS share
FROM m ORDER BY 1, 2
"""


def q_dedup_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup — the sampling-weight alternative to dropping
    duplicates: every copy of a duplicated document keeps weight
    1/n_copies, so a downstream weighted sampler sees each unique
    text exactly once in expectation WITHOUT destroying provenance
    (per-source attribution of the surviving mass is the point: which
    sources are mostly mirrors?). Same one-digest-shuffle shape as
    exact dedup; the per-(source, lang) rollup of raw vs effective
    counts is map-side combinable."""
    # text IS NOT NULL: no content -> no digest; the twin's fp JOIN
    # drops NULL digests structurally (NULL never equi-joins), so the
    # convention must be explicit on this face (dirty-corpus fuzz, r9)
    d = _spread(spark, _read(spark, sf_dir, "documents")).filter(F.col("text").isNotNull())
    digests = d.select("source", "lang", dedup.text_digest(F.col("text")).alias("__fp"))
    # copy counts as a two-phase groupBy + join-back (r10, the
    # containment/novelty skew fix): the previous count() window over
    # partitionBy(__fp) put a hot digest's ENTIRE copy set on one task
    # (an empty/boilerplate doc duplicated 10⁸ times at web scale) —
    # WindowExec can't partial-aggregate and AQE skew split doesn't
    # apply to windows. The groupBy absorbs hot digests map-side.
    # Recomputing the one-md5-per-doc projection for the join-back is
    # cheaper than pinning it (measured sf0.1 best-of-3, same session:
    # window 1.9 s, two-phase +localCheckpoint 2.1 s, recompute 0.8 s).
    owners = digests.groupBy("__fp").agg(F.count(F.lit(1)).alias("__copies"))
    return (
        digests.join(owners, "__fp")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum(F.lit(1.0) / F.col("__copies")), 6).alias("effective_docs"),
            F.round(
                F.sum(F.lit(1.0) / F.col("__copies")) / F.count(F.lit(1)), 6
            ).alias("unique_mass"),
        )
        .orderBy("source", "lang")
    )


def sql_dedup_weighted() -> str:
    return f"""
WITH digests AS (
  SELECT source, lang, {_SQL_DIGEST} AS fp FROM documents
  WHERE text IS NOT NULL
),
owners AS (SELECT fp, count(*) AS copies FROM digests GROUP BY 1)
SELECT d.source, d.lang, count(*) AS n_docs,
       round(sum(1.0 / o.copies), 6) AS effective_docs,
       round(sum(1.0 / o.copies) / count(*), 6) AS unique_mass
FROM digests d JOIN owners o ON d.fp = o.fp
GROUP BY d.source, d.lang
ORDER BY 1, 2
"""


def q_customer_churn_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operator pattern class (EXCEPT / INTERSECT), not yet
    represented elsewhere in the registry: customers who ordered in
    1995 but never again (churned = 1995-buyers EXCEPT later-buyers)
    vs customers active in both periods (retained = INTERSECT), as
    labeled key sets. Spark compiles exceptAll-free DISTINCT set ops
    to left-anti / left-semi hash joins over the deduplicated key
    projections — the same aggregate-before-join shape as the NOT
    EXISTS entries; no full-row comparison ever happens, only keys
    move."""
    o = _read(spark, sf_dir, "orders")
    y1995 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    later = o.filter(F.year("o_orderdate") > 1995).select("o_custkey").distinct()
    churned = y1995.exceptAll(later).withColumn("cohort", F.lit("churned_after_1995"))
    retained = y1995.intersect(later).withColumn("cohort", F.lit("retained"))
    return churned.unionByName(retained).orderBy("cohort", "o_custkey")


SQL_CUSTOMER_CHURN_SETS = """
WITH y1995 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
later AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) > 1995)
SELECT o_custkey, 'churned_after_1995' AS cohort FROM (SELECT * FROM y1995 EXCEPT SELECT * FROM later)
UNION ALL
SELECT o_custkey, 'retained' AS cohort FROM (SELECT * FROM y1995 INTERSECT SELECT * FROM later)
ORDER BY cohort, o_custkey
"""


def q_ops_healthcheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse-ops composed flagship (the ops-side analog of
    curation_pipeline): one normalized (section, check, value) report
    a scheduled platform job would page on — per-table row counts,
    referential-integrity orphans, null counts on critical columns,
    and the volume-anomaly count. Every section is an aggregate
    reduced BEFORE the union, so the report assembly unions a handful
    of 1-row frames; fact tables are scanned once per section with
    column-pruned projections."""
    sections = []
    for t in ["customer", "orders", "lineitem", "events", "documents"]:
        sections.append(
            _read(spark, sf_dir, t)
            .agg(F.count(F.lit(1)).alias("value"))
            .select(F.lit("row_count").alias("section"), F.lit(t).alias("check"), "value")
        )
    for name, child_t, ck, parent_t, pk, is_dim in _RI_CHECKS:
        sections.append(
            profile.ri_orphan_counts(
                _read(spark, sf_dir, child_t), ck, _read(spark, sf_dir, parent_t), pk, name,
                broadcast_parent=is_dim,
            ).select(
                F.lit("ri_orphans").alias("section"),
                F.col("check_name").alias("check"),
                F.col("n_orphans").alias("value"),
            )
        )
    for t, c in [("customer", "c_name"), ("orders", "o_orderstatus"), ("documents", "text")]:
        sections.append(
            _read(spark, sf_dir, t)
            .agg(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias("value"))
            .select(F.lit("null_count").alias("section"), F.lit(f"{t}.{c}").alias("check"), "value")
        )
    sections.append(
        q_events_anomaly(spark, sf_dir)
        .agg(F.count(F.lit(1)).alias("value"))
        .select(F.lit("anomaly").alias("section"), F.lit("hourly_volume_z2").alias("check"), "value")
    )
    out = sections[0]
    for s in sections[1:]:
        out = out.unionByName(s)
    return out.orderBy("section", "check")


def sql_ops_healthcheck() -> str:
    parts = [
        f"SELECT 'row_count' AS section, '{t}' AS check, count(*) AS value FROM {t}"
        for t in ["customer", "orders", "lineitem", "events", "documents"]
    ]
    for name, child_t, ck, parent_t, pk, _ in _RI_CHECKS:
        parts.append(
            f"""SELECT 'ri_orphans' AS section, '{name}' AS check,
       sum(CASE WHEN p.__k IS NULL THEN 1 ELSE 0 END)::BIGINT AS value
FROM {child_t} c LEFT JOIN (SELECT DISTINCT {pk} AS __k FROM {parent_t}) p
  ON c.{ck} = p.__k"""
        )
    for t, c in [("customer", "c_name"), ("orders", "o_orderstatus"), ("documents", "text")]:
        parts.append(
            f"SELECT 'null_count' AS section, '{t}.{c}' AS check, "
            f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS value FROM {t}"
        )
    parts.append(
        "SELECT 'anomaly' AS section, 'hourly_volume_z2' AS check, count(*) AS value FROM ("
        + SQL_EVENTS_ANOMALY.replace("ORDER BY 1, 2", "")
        + ") a"
    )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY section, \"check\""


_Z_BITS = 8


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout profile: Morton-interleave the low 8 bits of
    (l_partkey, l_suppkey), bucket by the top interleaved byte, and
    report per-bucket min/max of BOTH dimensions — every bucket spans
    a <=16-wide range in each, which is exactly why z-range file
    layout keeps per-file min/max stats tight on two columns at once
    (2-D data skipping; the reference's file pruning is 1-D, SURVEY
    §2.1 S3/S4). The z computation is shuffle-free codegen; the
    physical re-layout (layout.zorder_layout) is ONE range
    repartition, profiled here with a bucket groupBy instead."""
    li = _read(spark, sf_dir, "lineitem")
    x = F.col("l_partkey").bitwiseAND(F.lit(255))
    y = F.col("l_suppkey").bitwiseAND(F.lit(255))
    withz = li.select(
        x.alias("x"), y.alias("y"), layout.z_value(x, y, _Z_BITS).alias("z")
    )
    return (
        withz.groupBy(F.shiftright(F.col("z"), _Z_BITS).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
        .orderBy("z_bucket")
    )


def sql_zorder_layout() -> str:
    z = layout.sql_z_value("(l_partkey & 255)", "(l_suppkey & 255)", _Z_BITS)
    return f"""
WITH withz AS (
  SELECT (l_partkey & 255) AS x, (l_suppkey & 255) AS y, {z} AS z
  FROM lineitem
)
SELECT (z >> {_Z_BITS}) AS z_bucket, count(*) AS n_rows,
       min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
FROM withz GROUP BY 1 ORDER BY 1
"""

_SPAN_N = 12


def q_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alignment-robust exact-substring dup signal (the sliding-window
    counterpart of chunk_dedup's disjoint chunks): per document, the
    fraction of its distinct sliding 12-word grams that occur in at
    least one other document. Catches dups that straddle chunk
    boundaries. Pipeline: one rolling-hash projection per doc
    (decontam.word_ngram_hashes — one md5 per token), explode, attach
    owner counts as a two-phase ``groupBy("g").count()`` + join-back
    (r10, the same skew fix as containment/novelty: the previous
    ``count().over(partitionBy(g))`` was a single-reducer-per-gram
    WindowExec — no partial aggregation, no AQE skew split — so a
    boilerplate gram owned by 10⁸ docs landed its whole posting list
    on one task; the groupBy absorbs hot grams map-side and the
    join-back on g is AQE-skew-splittable), then a map-side-combinable
    per-doc rollup. The gram projection is deliberately NOT
    materialized: re-running the explode for the second consumer is
    one md5 per token, cheaper than checkpointing the exploded rows
    (measured sf0.1 best-of-3, same session: window 2.1 s, two-phase
    +localCheckpoint 3.0 s, two-phase recompute 1.8 s). Cost at
    100 TB: two shuffles (gram, doc), both linear in gram count."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    grams = decontam.word_ngram_hashes(F.col("text"), _SPAN_N)
    g = d.select("doc_id", F.explode(grams).alias("g"))
    owners = g.groupBy("g").agg(F.count(F.lit(1)).alias("n_owners"))
    counted = g.join(owners, "g")
    per_doc = counted.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("n_owners") >= 2, 1).otherwise(0)).alias("n_dup_grams"),
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).alias("n_dup_grams"),
            F.round(
                F.coalesce(F.col("n_dup_grams"), F.lit(0))
                / F.greatest(F.coalesce(F.col("n_grams"), F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


def sql_dup_span_fraction() -> str:
    th = decontam.sql_token_hashes(_norm_sql("text"))
    grams = decontam.sql_word_ngram_hashes(_SPAN_N)
    return f"""
WITH th AS (SELECT doc_id, {th} AS __th FROM documents),
g AS (SELECT doc_id, unnest({grams}) AS g FROM th),
c AS (SELECT doc_id, count(*) OVER (PARTITION BY g) AS n_owners FROM g),
p AS (
  SELECT doc_id, count(*) AS n_grams,
         sum(CASE WHEN n_owners >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_grams
  FROM c GROUP BY 1
)
SELECT d.doc_id, coalesce(p.n_grams, 0) AS n_grams,
       coalesce(p.n_dup_grams, 0) AS n_dup_grams,
       round(coalesce(p.n_dup_grams, 0) / greatest(coalesce(p.n_grams, 0), 1), 6)
         AS dup_fraction
FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id
ORDER BY d.doc_id
"""


# Gopher-style repetition thresholds (Rae et al. 2021 §A1.1): a doc is
# flagged when any signal exceeds its cutoff. Word-n-gram family only —
# the synthetic corpus carries no newlines, so the line-based signals
# of the paper would degenerate to constants here.
_REP_THRESH_TOP2 = 0.20
_REP_THRESH_TOP3 = 0.18
_REP_THRESH_DUP5 = 0.15


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition quality signals — the
    standard pre-training filter for template/boilerplate/generated
    text that length- and stopword-based `doc_quality` cannot see:

    - ``top2_frac`` / ``top3_frac``: max over 2-/3-word grams
      occurring ≥2× of (occurrences × gram chars) / doc chars — the
      char coverage of the single most-covering REPEATED n-gram (max
      of c·len rather than the paper's argmax-by-count, which would
      need a cross-engine tie-break; restricted to c ≥ 2 because a
      once-occurring gram is not repetition — without that floor any
      short doc's longest gram alone can clear the cutoffs).
    - ``dup5_frac``: Σ over 5-grams occurring ≥2× of (occurrences ×
      gram chars) / doc chars — the duplicate-n-gram char fraction
      (overlaps counted, as in the paper; can exceed 1 on degenerate
      docs).
    - ``flagged``: any signal over its Gopher cutoff (0.20/0.18/0.15),
      computed from the ROUNDED fractions so both engines compare
      identical 6-dp values.

    Scale: repetition is a PER-DOCUMENT metric, so the plan computes it
    entirely inside the projection — sort the doc's gram array, derive
    distinct-gram counts as run lengths, reduce to (top, dup) per gram
    size — with ZERO shuffle except the output sort. The relational
    alternative (explode → groupBy (doc_id, gram) → re-group per doc,
    which is what the DuckDB oracle deliberately runs — same answer
    from a different plan, the pareto_suppliers pattern) shuffles ~3
    gram STRINGS per token: at 100 TB that is a corpus-sized exchange
    for a quantity every partition can finish locally; measured 2.2 s
    → 0.9 s at sf0.1 from the swap. HOF notes: each lambda binds its
    input via the transform-over-1-element-array trick (so the sorted
    array is evaluated once, immune to CollapseProject inlining — the
    capture trap), the i=1 disjunct short-circuits before
    element_at(g, i-1) can throw under ANSI, and the empty-gram case
    is guarded because sequence(1, 0) DESCENDS instead of being
    empty."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        F.length("text").alias("nc"),
        text.tokens(F.col("text")).alias("tk"),
    )

    def rep_stats(n: int) -> str:
        """bigint struct(top, dup) for gram size n: run-length stats
        over the sorted gram array, repeated (cnt >= 2) grams only."""
        grams = (
            f"CASE WHEN size(tk) >= {n} THEN array_sort(transform("
            f"sequence(1, size(tk) - {n - 1}), i -> array_join(slice(tk, i, {n}), ' ')))"
            f" ELSE cast(array() as array<string>) END"
        )
        return f"""
        transform(array({grams}), g ->
          CASE WHEN size(g) = 0 THEN named_struct('top', 0L, 'dup', 0L) ELSE
            transform(array(filter(sequence(1, size(g)),
                                   i -> i = 1 OR element_at(g, i) != element_at(g, i - 1))), st ->
              transform(array(transform(sequence(1, size(st)), j -> named_struct(
                  'cnt', (CASE WHEN j < size(st) THEN element_at(st, j + 1)
                          ELSE size(g) + 1 END) - element_at(st, j),
                  'len', length(element_at(g, element_at(st, j)))))), runs ->
                named_struct(
                  'top', coalesce(array_max(transform(
                           filter(runs, r -> r.cnt >= 2),
                           r -> cast(r.cnt as bigint) * r.len)), 0L),
                  'dup', aggregate(filter(runs, r -> r.cnt >= 2), 0L,
                                   (acc, r) -> acc + cast(r.cnt as bigint) * r.len))
              )[0]
            )[0]
          END
        )[0]"""

    stats = base.select(
        "doc_id",
        "nc",
        *[F.expr(rep_stats(n)).alias(f"s{n}") for n in (2, 3, 5)],
    )
    out = stats.select(
        "doc_id",
        F.round(F.col("s2.top") / F.greatest(F.col("nc"), F.lit(1)), 6).alias("top2_frac"),
        F.round(F.col("s3.top") / F.greatest(F.col("nc"), F.lit(1)), 6).alias("top3_frac"),
        F.round(F.col("s5.dup") / F.greatest(F.col("nc"), F.lit(1)), 6).alias("dup5_frac"),
    )
    return out.select(
        "doc_id",
        "top2_frac",
        "top3_frac",
        "dup5_frac",
        (
            (F.col("top2_frac") > _REP_THRESH_TOP2)
            | (F.col("top3_frac") > _REP_THRESH_TOP3)
            | (F.col("dup5_frac") > _REP_THRESH_DUP5)
        ).alias("flagged"),
    ).orderBy("doc_id")


def sql_repetition_signals() -> str:
    toks = _toks_sql("text")
    gram_selects = " UNION ALL ".join(
        f"SELECT doc_id, nc, {n} AS n, "
        f"unnest(list_transform(range(1, len(tk) - {n - 2}), "
        f"i -> array_to_string(list_slice(tk, i::INT, i::INT + {n - 1}), ' '))) AS gram FROM d"
        for n in (2, 3, 5)
    )
    return f"""
WITH d AS (SELECT doc_id, length(text) AS nc, {toks} AS tk FROM documents),
g AS ({gram_selects}),
cnt AS (SELECT doc_id, nc, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3, 4),
per AS (
  SELECT doc_id, nc, n,
         max(CASE WHEN c >= 2 THEN c * length(gram) END)::BIGINT AS topchars,
         sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END)::BIGINT AS dupchars
  FROM cnt GROUP BY 1, 2, 3
),
piv AS (
  SELECT doc_id,
         max(CASE WHEN n = 2 THEN topchars END) AS t2,
         max(CASE WHEN n = 3 THEN topchars END) AS t3,
         max(CASE WHEN n = 5 THEN dupchars END) AS d5
  FROM per GROUP BY 1
),
fr AS (
  SELECT doc.doc_id,
         round(coalesce(t2, 0) / greatest(length(doc.text), 1), 6) AS top2_frac,
         round(coalesce(t3, 0) / greatest(length(doc.text), 1), 6) AS top3_frac,
         round(coalesce(d5, 0) / greatest(length(doc.text), 1), 6) AS dup5_frac
  FROM documents doc LEFT JOIN piv ON doc.doc_id = piv.doc_id
)
SELECT doc_id, top2_frac, top3_frac, dup5_frac,
       (top2_frac > {_REP_THRESH_TOP2} OR top3_frac > {_REP_THRESH_TOP3}
        OR dup5_frac > {_REP_THRESH_DUP5}) AS flagged
FROM fr ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Round-6 late additions: pivot / grouping-sets / capping / budgeting /
# embedding stats / range-frame windows / PMI phrase mining
# ---------------------------------------------------------------------------


def q_orders_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT cross-tab (priority × status order counts) — the one
    relational reshaping operator the registry lacked. The pivot
    values are passed EXPLICITLY: without them Spark runs an extra
    collect-distinct job over the pivot column before it can even
    plan — at 100 TB that is a full-table pre-pass just to learn
    column names, so production pivots should always enumerate their
    (small, known) value set. With values given this compiles to one
    partial-aggregated groupBy: a 5×3 cross-tab from a single fact
    shuffle of 15 pre-combined rows per map task."""
    o = _read(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
        .orderBy("o_orderpriority")
    )


SQL_ORDERS_PIVOT = """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
       count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
       count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping_id — subtotal lattices beyond the
    plain ROLLUP entry: {(flag,status), (flag), ()} in ONE scan via
    Catalyst's Expand (3 grouping sets → 3× map-side row fan-out,
    partially aggregated before the single shuffle — vs 3 separate
    scans of the fact table). grouping_id() uses the same bit order
    as DuckDB's GROUPING(a, b) (first column = MSB), asserted by the
    oracle hash. NULL group keys are coalesced to 'ALL' so the
    subtotal rows order identically in both engines."""
    l = _read(spark, sf_dir, "lineitem")
    g = l.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
    )
    return (
        g.select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "n_items",
            "revenue",
        )
        .orderBy("gid", "returnflag", "linestatus")
    )


SQL_GROUPING_SETS_REVENUE = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY gid, returnflag, linestatus
"""

SOURCE_CAP = 10


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequency capping — the web-pipeline staple that
    stops one mirror-heavy domain from dominating the training mix:
    keep at most SOURCE_CAP docs per source, best-first (longest doc
    wins, doc_id tiebreak). One rank window = one shuffle on source;
    when a single source is pathologically hot the 100 TB variant
    pre-filters with a per-source count sketch and tops up only the
    sources actually over cap (noted in SCALE.md) — but the rank
    window is already partial-agg-free and spills cleanly."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.select("doc_id", "source", "n_chars")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SOURCE_CAP)
        .orderBy("source", "rk")
    )


SQL_SOURCE_CAP = f"""
SELECT doc_id, source, n_chars, rk FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
) WHERE rk <= {SOURCE_CAP} ORDER BY source, rk
"""


def q_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: take documents best-first
    (longest first, doc_id tiebreak) until 50% of the corpus's token
    mass is spent — the 'fill the training budget by priority' shape.
    The semantic spec is a GLOBAL cumulative sum in priority order;
    a naive ``sum() OVER (ORDER BY ...)`` is the single-partition
    window scale-killer, so this runs the packing-style two-level
    prefix scan instead: decile bounds of the priority score are ONE
    broadcast scalar row, per-bucket token totals (10 rows) get
    exclusive offsets from a tiny driver-safe window, and each doc's
    global cum is its within-bucket window cum + its bucket offset —
    bucket-partitioned windows only, integer-exact, so it equals the
    oracle's global window bit-for-bit."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", "source", "n_chars", text.token_count(F.col("text")).alias("n_tokens")
    )
    fracs = ", ".join(str(i / 10) for i in range(1, 10))
    glob = toks.agg(
        F.expr(f"transform(percentile(n_chars, array({fracs})), x -> round(x, 4))").alias("__bounds"),
        F.floor(F.sum("n_tokens") * 0.5).cast("bigint").alias("__budget"),
    )
    b = toks.crossJoin(F.broadcast(glob)).withColumn(
        "__bucket",
        F.aggregate(
            "__bounds", F.lit(0), lambda acc, bd: acc + F.when(F.col("n_chars") > bd, 1).otherwise(0)
        ),
    )
    # 10-row bucket totals: the deliberate tiny unpartitioned window
    # (same class as the IVF seed ranking — bounded by the bucket count,
    # never by the data).
    wb = Window.orderBy(F.desc("__bucket")).rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        b.groupBy("__bucket")
        .agg(F.sum("n_tokens").alias("__btoks"))
        .withColumn("__off", F.coalesce(F.sum("__btoks").over(wb), F.lit(0)))
        .select("__bucket", "__off")
    )
    ww = (
        Window.partitionBy("__bucket")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        b.join(F.broadcast(offsets), "__bucket")
        .withColumn("cum_tokens", (F.sum("n_tokens").over(ww) + F.col("__off")).cast("bigint"))
        .filter(F.col("cum_tokens") - F.col("n_tokens") < F.col("__budget"))
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .orderBy("cum_tokens")
    )


def sql_token_budget_selection() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, source, n_chars, len({_toks_sql('text')})::BIGINT AS n_tokens FROM documents
),
tot AS (SELECT floor(sum(n_tokens) * 0.5)::BIGINT AS budget FROM toks),
c AS (
  SELECT doc_id, source, n_tokens,
         (sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id))::BIGINT AS cum_tokens
  FROM toks
)
SELECT doc_id, source, n_tokens, cum_tokens
FROM c, tot WHERE cum_tokens - n_tokens < budget ORDER BY cum_tokens
"""


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (mean/var/min/max) — the
    feature-drift monitor every embedding pipeline runs before
    training. posexplode fans each row ×64, but the groupBy(dim)
    partial-aggregates map-side, so the shuffle is partitions×64
    tiny stat tuples regardless of corpus size — the d×n explosion
    never crosses the wire. Elements are cast to double BEFORE
    aggregation so both engines accumulate in the same precision."""
    e = _spread(spark, _read(spark, sf_dir, "embeddings"))
    ex = e.select(F.posexplode("embedding").alias("dim", "v")).withColumn(
        "v", F.col("v").cast("double")
    )
    return (
        ex.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("v"), 6).alias("mean_v"),
            F.round(F.var_pop("v"), 6).alias("var_v"),
            F.round(F.min("v"), 6).alias("min_v"),
            F.round(F.max("v"), 6).alias("max_v"),
        )
        .orderBy("dim")
    )


SQL_EMBEDDING_DIM_STATS = """
WITH ex AS (
  SELECT i - 1 AS dim, embedding[i]::DOUBLE AS v
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)
)
SELECT dim, count(*) AS n, round(avg(v), 6) AS mean_v, round(var_pop(v), 6) AS var_v,
       round(min(v), 6) AS min_v, round(max(v), 6) AS max_v
FROM ex GROUP BY dim ORDER BY dim
"""


def q_embedding_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension symmetric int8 quantization calibration — the
    decision table for storing embeddings at 1/4 width (the storage
    face of the PQ compression theme: int8 is the cheap first rung
    before codebook quantization, and the per-dim absmax scales +
    reconstruction error are exactly what you audit before flipping a
    100 TB corpus to int8). Per dim: absmax scale, quantized
    ``clamp(floor(v/scale*127 + 0.5), ±127)`` (floor(+0.5) instead of
    round: floor is bit-identical across engines while round-half-up
    vs half-away could split on a dyadic boundary), reconstruction
    MSE in integer nano-units (the kl_nanonats convention) and max
    abs error, plus the saturation count.

    Scale shape: the 64 absmax scales are ONE bounded driver collect
    (64 doubles — the vocab_growth/embedding_outliers budget class)
    embedded as an array literal, so quantization+error is a pure
    projection over the posexplode and the ONLY shuffle is 64-key
    partial-aggregated stat tuples; the corpus crosses the wire
    never. (The join-back form would shuffle the n×64 explode against
    the 64 scales — a broadcast join but still a second full
    aggregation pass.)"""
    e = _spread(spark, _read(spark, sf_dir, "embeddings")).filter(F.col("embedding").isNotNull())
    ex = e.select(F.posexplode("embedding").alias("dim", "v")).withColumn(
        "v", F.col("v").cast("double")
    )
    out_schema = (
        "dim int, n bigint, scale double, mse_nano bigint, max_abs_err double, n_sat bigint"
    )
    srows = ex.groupBy("dim").agg(F.max(F.abs("v")).alias("s")).collect()
    if not srows:  # empty / all-NULL corpus: nothing to calibrate
        return spark.createDataFrame([], out_schema)
    smap = {int(r["dim"]): float(r["s"]) for r in srows}
    arr = F.array(*[F.lit(smap.get(i, 0.0)) for i in range(max(smap) + 1)])
    scale = F.element_at(arr, F.col("dim") + 1)
    qv = F.when(scale == 0.0, F.lit(0).cast("long")).otherwise(
        F.least(F.greatest(F.floor(F.col("v") / scale * 127 + 0.5), F.lit(-127)), F.lit(127))
    )
    err = F.col("v") - F.col("qv") * F.col("scale") / 127
    return (
        ex.withColumn("scale", scale)
        .withColumn("qv", qv)
        .withColumn("err", err)
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("scale"), 6).alias("scale"),
            F.round(F.avg(F.col("err") * F.col("err")) * 1e9).cast("bigint").alias("mse_nano"),
            F.round(F.max(F.abs("err")), 6).alias("max_abs_err"),
            F.sum((F.abs("qv") == 127).cast("int")).alias("n_sat"),
        )
        .orderBy("dim")
    )


SQL_EMBEDDING_INT8_QUANT = """
WITH ex AS (
  SELECT i - 1 AS dim, embedding[i]::DOUBLE AS v
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)
  WHERE embedding IS NOT NULL
),
sc AS (SELECT dim, max(abs(v)) AS scale FROM ex GROUP BY 1),
qz AS (
  SELECT e.dim, e.v, s.scale,
         CASE WHEN s.scale = 0 THEN 0
              ELSE least(greatest(floor(e.v / s.scale * 127 + 0.5), -127), 127) END AS qv
  FROM ex e JOIN sc s USING (dim)
),
er AS (SELECT dim, scale, qv, v - qv * scale / 127 AS err FROM qz)
SELECT dim, count(*) AS n, round(min(scale), 6) AS scale,
       round(avg(err * err) * 1e9)::BIGINT AS mse_nano,
       round(max(abs(err)), 6) AS max_abs_err,
       sum(CASE WHEN abs(qv) = 127 THEN 1 ELSE 0 END)::BIGINT AS n_sat
FROM er GROUP BY 1 ORDER BY 1
"""


def q_events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling average — the time-based window frame the
    registry's ROWS-frame entries don't cover: per-type 4-hour
    trailing mean of hourly value volume. Events are aggregated to
    hourly grain FIRST (the fact shuffle carries pre-combined hour
    rows, not raw events), then the range window runs over the tiny
    per-type hourly series — frame membership by epoch distance, so
    missing hours correctly shrink the frame instead of silently
    widening it the way a ROWS 3 PRECEDING frame would."""
    # NULL ts/event_type guard: Spark windows order NULLS FIRST, DuckDB
    # NULLS LAST — on dirty data the frames would silently diverge from
    # the oracle (same guard as rolling_distinct_users).
    ev = _read(spark, sf_dir, "events").filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("hour_value"))
        .withColumn("__ep", F.unix_timestamp("hour"))
    )
    w = Window.partitionBy("event_type").orderBy("__ep").rangeBetween(-3 * 3600, 0)
    return (
        hourly.withColumn("moving_avg", F.round(F.avg("hour_value").over(w), 6))
        .select(
            "event_type",
            F.date_format("hour", _FMT).alias("hour"),
            "n_events",
            "hour_value",
            "moving_avg",
        )
        .orderBy("event_type", "hour")
    )


SQL_EVENTS_MOVING_AVG = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n_events,
         round(sum(value), 6) AS hour_value, epoch(date_trunc('hour', ts))::BIGINT AS ep
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, {_fmt_sql('hour')} AS hour, n_events, hour_value,
       round(avg(hour_value) OVER (
         PARTITION BY event_type ORDER BY ep
         RANGE BETWEEN 10800 PRECEDING AND CURRENT ROW), 6) AS moving_avg
FROM hourly ORDER BY event_type, hour
"""

PMI_MIN_COUNT = 10


def q_term_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI phrase mining: top-50 adjacent token pairs by pointwise
    mutual information ln(n12·N / (n1·n2)) — the collocation signal
    tokenizer-vocabulary and phrase-detection passes start from.
    Unigram and bigram counts are two independent explode→groupBy
    partial aggregations over the SAME token arrays; the pair table
    then joins the unigram counts twice ON TERM (a vocabulary-sized
    shuffle join — at 100 TB the vocab is still millions of rows, so
    no broadcast is assumed). All PMI inputs are exact integers;
    the double division is IEEE-identical in both engines."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    toks = d.select(text.tokens(F.col("text")).alias("t"))
    uni = toks.select(F.explode("t").alias("term")).groupBy("term").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = uni.agg(F.sum("n").cast("bigint").alias("N"))
    grams = toks.select(F.explode(quality.bigrams_of(F.col("t"))).alias("g"))
    bc = grams.groupBy("g").agg(F.count(F.lit(1)).alias("n12")).filter(
        F.col("n12") >= PMI_MIN_COUNT
    )
    pairs = (
        bc.withColumn("w1", F.split("g", " ")[0])
        .withColumn("w2", F.split("g", " ")[1])
        .join(uni.select(F.col("term").alias("w1"), F.col("n").alias("n1")), "w1")
        .join(uni.select(F.col("term").alias("w2"), F.col("n").alias("n2")), "w2")
        .crossJoin(F.broadcast(total))
    )
    return (
        pairs.select(
            F.col("g").alias("bigram"),
            "n12",
            "n1",
            "n2",
            F.round(F.log((F.col("n12") * F.col("N")) / (F.col("n1") * F.col("n2"))), 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(50)
    )


def sql_term_pmi() -> str:
    return f"""
WITH toks AS (SELECT {_toks_sql('text')} AS t FROM documents),
tu AS (SELECT unnest(t) AS term FROM toks),
uni AS (SELECT term, count(*) AS n FROM tu GROUP BY 1),
tot AS (SELECT sum(n)::BIGINT AS n_total FROM uni),
bg AS (SELECT t[i] || ' ' || t[i + 1] AS g FROM toks, unnest(range(1, len(t))) AS r(i)),
bc AS (SELECT g, count(*) AS n12 FROM bg GROUP BY 1 HAVING count(*) >= {PMI_MIN_COUNT})
SELECT bc.g AS bigram, bc.n12, u1.n AS n1, u2.n AS n2,
       round(ln((bc.n12 * n_total) / (u1.n * u2.n)), 6) AS pmi
FROM bc
JOIN uni u1 ON u1.term = string_split(bc.g, ' ')[1]
JOIN uni u2 ON u2.term = string_split(bc.g, ' ')[2]
CROSS JOIN tot
ORDER BY pmi DESC, bigram ASC LIMIT 50
"""


def q_lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT — the inverse reshaping of the pivot entry: per-flag
    average measures computed WIDE (one aggregate scan), then melted
    to long (flag, metric, value) via DataFrame.unpivot (Catalyst
    Expand). The melt happens AFTER aggregation, on the 3-row wide
    frame — melting the fact table first would triple the shuffle
    for identical results. Long format is what metric stores and
    plotting layers ingest, so this wide-agg-then-melt shape is the
    standard reporting tail.

    Averages are rounded in EXACT INTEGER arithmetic end to end — the
    r12 fuzz caught this twice, one layer deeper each time. First:
    round(avg(double), 4) is summation-order-sensitive (partitioned
    vs sequential sums land on different last bits, and a .xxxx5-
    boundary mean rounds apart — 5028.3712 vs 5028.3713). Summing
    exact cents fixed that, but the soak then caught the residual
    cliff: when the TRUE mean is exactly on the half (e.g. cents/(100n)
    with n = 32 terminates in ...5), the bit-identical double is a
    hair off the half and the ENGINES' round() implementations
    disagree — Spark rounds the BigDecimal expansion of the double,
    DuckDB's ×10⁴ multiply can land exactly on .5 and round the other
    way (6194.2612 vs 6194.2613). So no engine round() runs at all:
    round-half-up of p/q at scale s is the integer (2·p·10^s + q) div
    (2·q), computed in BIGINT on both engines, displayed as R/10^s."""
    l = _read(spark, sf_dir, "lineitem")
    sums = l.groupBy("l_returnflag").agg(
        F.sum(F.round(F.col("l_quantity")).cast("long")).alias("sq"),
        F.count("l_quantity").alias("nq"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sp"),
        F.count("l_extendedprice").alias("np"),
        F.sum(F.round(F.col("l_discount") * 100).cast("long")).alias("sd"),
        F.count("l_discount").alias("nd"),
    )
    wide = sums.select(
        "l_returnflag",
        (F.expr("(2 * sq * 10000 + nq) div (2 * nq)") / F.lit(10000.0)).alias("avg_qty"),
        (F.expr("(2 * sp * 100 + np) div (2 * np)") / F.lit(10000.0)).alias("avg_price"),
        (F.expr("(2 * sd * 100 + nd) div (2 * nd)") / F.lit(10000.0)).alias("avg_disc"),
    )
    return (
        wide.unpivot(["l_returnflag"], ["avg_qty", "avg_price", "avg_disc"], "metric", "value")
        .orderBy("l_returnflag", "metric")
    )


SQL_LINEITEM_UNPIVOT = """
WITH s AS (
  SELECT l_returnflag,
         sum(CAST(round(l_quantity) AS BIGINT))::BIGINT AS sq, count(l_quantity)::BIGINT AS nq,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS sp, count(l_extendedprice)::BIGINT AS np,
         sum(CAST(round(l_discount * 100) AS BIGINT))::BIGINT AS sd, count(l_discount)::BIGINT AS nd
  FROM lineitem GROUP BY 1
),
wide AS (
  SELECT l_returnflag,
         ((2 * sq * 10000 + nq) // (2 * nq)) / 10000.0 AS avg_qty,
         ((2 * sp * 100 + np) // (2 * np)) / 10000.0 AS avg_price,
         ((2 * sd * 100 + nd) // (2 * nd)) / 10000.0 AS avg_disc
  FROM s
)
SELECT l_returnflag, metric, value
FROM wide UNPIVOT (value FOR metric IN (avg_qty, avg_price, avg_disc))
ORDER BY l_returnflag, metric
"""


def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval-overlap counting — the max-concurrency
    question (peak simultaneous sessions) that no join or plain
    aggregate expresses: each event opens a 30-minute presence
    interval [ts, ts+30min); every interval becomes a +1/-1 edge, a
    per-type running sum over the time-ordered edges counts open
    intervals, and the max of that running sum is the peak. Half-open
    semantics make an end and a start at the same instant NOT
    overlap, so ties order ends (-1) before starts (+1). The peak is
    tie-order-invariant (within equal (ts, delta) groups the partial
    sums are a fixed multiset), so the result is deterministic and
    oracle-exact. The per-type ordered window shuffles on event_type —
    few types = few fat partitions, so the 100 TB variant runs the
    same edges through the time-bucketed two-level prefix scan
    (token_budget_selection's shape) with per-bucket carry-in
    offsets."""
    # NULL guard for oracle parity on dirty data (NULLS FIRST vs LAST
    # window ordering) — see q_events_moving_avg.
    ev = _read(spark, sf_dir, "events").filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
    starts = ev.select("event_type", F.col("ts").alias("edge_ts"), F.lit(1).alias("delta"))
    ends = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("edge_ts"),
        F.lit(-1).alias("delta"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("edge_ts", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = starts.unionByName(ends).withColumn("open_now", F.sum("delta").over(w))
    return (
        run.groupBy("event_type")
        .agg(
            (F.count(F.lit(1)) / 2).cast("bigint").alias("n_intervals"),
            F.max("open_now").alias("peak_concurrent"),
        )
        .orderBy("event_type")
    )


SQL_PEAK_CONCURRENCY = """
WITH edges AS (
  SELECT event_type, ts AS edge_ts, 1 AS delta FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  UNION ALL
  SELECT event_type, ts + INTERVAL 30 MINUTE, -1 FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
run AS (
  SELECT event_type,
         sum(delta) OVER (PARTITION BY event_type ORDER BY edge_ts, delta
                          ROWS UNBOUNDED PRECEDING) AS open_now
  FROM edges
)
SELECT event_type, (count(*) / 2)::BIGINT AS n_intervals,
       max(open_now)::BIGINT AS peak_concurrent
FROM run GROUP BY event_type ORDER BY event_type
"""

FUZZY_MAX_DIST = 4


def q_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join (edit distance ≤ FUZZY_MAX_DIST) — the
    approximate-string-match pattern class (near-identical product /
    entity names). Two scale disciplines: (1) the join runs over the
    DISTINCT name domain, not the row domain — a 100 TB part table
    still has a vocabulary-sized name set, and per-name row counts
    ride along as aggregates; (2) candidate pairs come from an
    EQUI-join on a blocking key (the head noun) with levenshtein as a
    cheap residual — never a cross join. Recall beyond one blocking
    key = union several cheap keys (length band, q-gram signature),
    each still an equi-join."""
    p = _read(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    b = names.withColumn("noun", F.split("p_name", " ")[1])
    pairs = (
        b.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.noun") == F.col("b.noun")) & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .withColumn("dist", F.levenshtein(F.col("a.p_name"), F.col("b.p_name")))
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
    )
    return pairs.select(
        F.col("a.p_name").alias("name_a"),
        F.col("b.p_name").alias("name_b"),
        "dist",
        F.col("a.n_parts").alias("n_parts_a"),
        F.col("b.n_parts").alias("n_parts_b"),
    ).orderBy("name_a", "name_b")


SQL_FUZZY_PART_NAMES = f"""
WITH names AS (SELECT p_name, count(*) AS n_parts FROM part GROUP BY 1),
b AS (SELECT p_name, n_parts, string_split(p_name, ' ')[2] AS noun FROM names),
cand AS (
  SELECT a.p_name AS name_a, x.p_name AS name_b,
         levenshtein(a.p_name, x.p_name) AS dist,
         a.n_parts AS n_parts_a, x.n_parts AS n_parts_b
  FROM b a JOIN b x ON a.noun = x.noun AND a.p_name < x.p_name
)
SELECT * FROM cand WHERE dist <= {FUZZY_MAX_DIST} ORDER BY name_a, name_b
"""


PR_ITERS = 5
PR_DAMPING = 0.85


def q_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted iterative fixed-point over a graph — PageRank on the
    bipartite customer↔supplier purchase graph (distinct edges from
    orders⋈lineitem), the pattern class beyond connected components'
    unweighted min-label propagation. Fixed PR_ITERS power-method
    steps; every iteration ends in a 10-dp round in BOTH engines, so
    FP summation-order noise (~1e-18) can't accumulate across
    iterations and the DuckDB chained-CTE replay stays hash-exact.
    Each step is one shuffle join (ranks ⋈ edges on src) + one groupBy
    dst with map-side partials; at 100 TB the rank/edge tables stay
    co-partitioned on node id so the per-iteration shuffle is the
    contributions only — and lineage is checkpointed every few
    iterations exactly as dedup_clusters documents. (Locally the
    edges/deg subtrees are deliberately NOT materialized — all three
    strategies were measured at sf0.1 local[32], same host, 3 runs
    each: lineage recompute 6.1-7.0 s (4.9-6.3 s in the r7 re-run);
    eager localCheckpoint 5.1-7.7 s; persist(MEMORY_ONLY) of
    edges⋈deg 8.1-10.0 s; persist(MEMORY_ONLY) of the distinct pairs
    frame 12.7-14.5 s; r7 fourth variant — edges⋈deg spilled to a
    temp parquet and re-read per iteration (pipelined codegen-
    friendly scans, no InMemoryTableScan) — 9.0-11.6 s: the write
    barrier plus per-iteration re-read scheduling cost more than the
    fused recompute saves.
    Caching loses at this size because materialization adds a stage
    barrier and the InMemoryTableScan breaks whole-stage-codegen
    fusion with the per-iteration join, while the recompute is a
    fully pipelined parquet scan. The remaining gap to the DuckDB
    twin (~1.3 s) is 5 sequential shuffle rounds × Spark's fixed
    per-job floor, not a plan defect; at cluster scale with a big
    edge table, flip to materialize() per the cluster.py pattern.)"""
    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("node"))
    n_total = nodes.agg(F.count(F.lit(1)).alias("N"))
    ranks = nodes.crossJoin(F.broadcast(n_total)).select(
        "node", F.round(F.lit(1.0) / F.col("N"), 10).alias("pr"), "N"
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(deg, "src")
            .join(ranks.select(F.col("node").alias("src"), "pr", "N"), "src")
            .select("dst", (F.col("pr") / F.col("deg")).alias("w"), "N")
        )
        ranks = (
            contrib.groupBy("dst", "N")
            .agg(F.sum("w").alias("__in"))
            .select(
                F.col("dst").alias("node"),
                F.round(F.lit(1 - PR_DAMPING) / F.col("N") + PR_DAMPING * F.col("__in"), 10).alias("pr"),
                "N",
            )
        )
    return (
        ranks.filter(F.col("node").startswith("s"))
        .select("node", F.round(F.col("pr") * 1000, 6).alias("pr_permille"))
        .orderBy(F.desc("pr_permille"), F.asc("node"))
        .limit(20)
    )


def sql_supplier_pagerank() -> str:
    d = PR_DAMPING
    its = []
    prev = "it0"
    for i in range(1, PR_ITERS + 1):
        its.append(
            f"""it{i} AS (
  SELECT e.dst AS node,
         round((1 - {d}) / any_value(n.N) + {d} * sum(p.pr / g.deg), 10) AS pr
  FROM edges e JOIN deg g ON g.src = e.src JOIN {prev} p ON p.node = e.src
  CROSS JOIN n GROUP BY e.dst
)"""
        )
        prev = f"it{i}"
    chain = ",\n".join(its)
    return f"""
WITH pairs AS (
  SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs UNION ALL SELECT s, c FROM pairs
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
n AS (SELECT count(*) AS N FROM deg),
it0 AS (SELECT src AS node, round(1.0 / N, 10) AS pr FROM deg CROSS JOIN n),
{chain}
SELECT node, round(pr * 1000, 6) AS pr_permille
FROM {prev} WHERE node LIKE 's%'
ORDER BY pr_permille DESC, node ASC LIMIT 20
"""


def q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregate over a sliding window — a shape Spark has no
    native form for (``count(DISTINCT) OVER`` is rejected): distinct
    active users per event type in a trailing 4-hour window. Emulated
    as per-hour user SETS (one groupBy — the fact shuffle carries
    (type, hour, user) triples deduplicated map-side) merged through a
    RANGE frame: flatten + array_distinct over ≤4 hourly sets. State
    per output row is bounded by active-users-per-4h-per-type, NOT
    corpus size; the 100 TB variant swaps the exact sets for the
    registered HLL registers (same merge-through-window shape,
    constant 64-register state). The oracle computes the same counts
    through DuckDB's interval self-join — a deliberately different
    plan for the same semantics."""
    ev = _read(spark, sf_dir, "events")
    hourly = (
        # NULL type/ts rows are excluded in BOTH engines: the oracle's
        # equality join drops them implicitly, and a NULL window
        # partition here would silently re-include them
        ev.filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
        .select("event_type", F.date_trunc("hour", "ts").alias("hour"), "user_id")
        .distinct()
        .groupBy("event_type", "hour")
        .agg(F.collect_set("user_id").alias("__us"))
        .withColumn("__ep", F.unix_timestamp("hour"))
    )
    w = Window.partitionBy("event_type").orderBy("__ep").rangeBetween(-3 * 3600, 0)
    return (
        hourly.withColumn(
            "users_4h", F.size(F.array_distinct(F.flatten(F.collect_list("__us").over(w))))
        )
        .select("event_type", F.date_format("hour", _FMT).alias("hour"), "users_4h")
        .orderBy("event_type", "hour")
    )


SQL_ROLLING_DISTINCT_USERS = f"""
WITH hourly AS (
  SELECT DISTINCT event_type, date_trunc('hour', ts) AS hour, user_id FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
),
spine AS (SELECT DISTINCT event_type, hour FROM hourly)
SELECT s.event_type, {_fmt_sql('s.hour')} AS hour, count(DISTINCT h.user_id) AS users_4h
FROM spine s
JOIN hourly h ON h.event_type = s.event_type
            AND h.hour BETWEEN s.hour - INTERVAL 3 HOUR AND s.hour
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_customer_revenue_standing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing window functions (percent_rank / cume_dist) —
    the last rank-family members absent from the registry: each
    customer's revenue standing WITHIN their nation. Revenue is
    aggregated per customer BEFORE the window (the fact shuffle
    carries customer totals, not order rows) and rounded so both
    engines rank the identical total order; the custkey tiebreak
    removes ties entirely, making percent_rank/cume_dist
    deterministic. One shuffle for the agg, one for the per-nation
    window — at 100 TB the nation partitions are the skew concern,
    and the decile-bounds pattern (doc_length_deciles) is the
    documented alternative when per-key cardinality explodes."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    rev = o.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    cust = c.select("c_custkey", "c_nationkey").join(
        rev, F.col("c_custkey") == F.col("o_custkey"), "inner"
    )
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        cust.select(
            "c_nationkey",
            "c_custkey",
            "revenue",
            # integer micro-units, not round(x, 6): percent_rank emits
            # dyadic rationals whose shortest-decimal repr lands EXACTLY
            # on the .5 rounding boundary, where Spark (decimal HALF_UP)
            # and DuckDB (binary) disagree; floor of pure double
            # arithmetic is bit-identical in both engines.
            F.floor(F.percent_rank().over(w) * 1000000 + 0.5).cast("bigint").alias("pct_rank_u"),
            F.floor(F.cume_dist().over(w) * 1000000 + 0.5).cast("bigint").alias("cume_u"),
        )
        .filter(F.col("pct_rank_u") <= 100000)
        .orderBy("c_nationkey", "pct_rank_u", "c_custkey")
    )


SQL_CUSTOMER_REVENUE_STANDING = """
WITH rev AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue FROM orders GROUP BY 1
),
ranked AS (
  SELECT c_nationkey, c_custkey, revenue,
         floor(percent_rank() OVER (PARTITION BY c_nationkey
                                    ORDER BY revenue DESC, c_custkey) * 1000000 + 0.5)::BIGINT AS pct_rank_u,
         floor(cume_dist() OVER (PARTITION BY c_nationkey
                                 ORDER BY revenue DESC, c_custkey) * 1000000 + 0.5)::BIGINT AS cume_u
  FROM customer JOIN rev ON c_custkey = o_custkey
)
SELECT * FROM ranked WHERE pct_rank_u <= 100000
ORDER BY c_nationkey, pct_rank_u, c_custkey
"""


def q_quantile_sketch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (operators/sketches.py) — p50/p90/p99
    estimates per event type from log-bucket counts (DDSketch-style,
    ≤ 12.5% relative error), completing the sketch family next to
    HLL/count-min/bloom. Unlike the exact `value_percentiles` entry
    (per-group sort, can't pre-aggregate), these bucket counts merge
    by ADDITION across shards/days/streams; integer-exact bucket
    arithmetic makes the DuckDB oracle replay every boundary."""
    ev = _read(spark, sf_dir, "events")
    return sketches.quantile_sketch(ev, "value", ["event_type"])


def sql_quantile_sketch_events() -> str:
    return sketches.sql_quantile_sketch("value", "event_type", "events")


# ---------------------------------------------------------------------------
# Round-7 additions: graph density, skyline, data-curation selection,
# corpus statistics, robust sampling, quality-audit profiles
# ---------------------------------------------------------------------------


TRI_TOP_K = 8


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-ordered triangle counting (operators/graph.py) over the
    supplier STRONG-TIE graph: suppliers are linked when the
    co-occurrence count of their order shipments ranks in each other's
    top-8 (union-kNN pruning). The pruning is the scale decision: a
    raw co-occurrence graph over uniform order data densifies toward a
    clique as the corpus grows (at sf0.01 it is literally K_100 —
    C(100,3) = 161,700 triangles; at 100 TB the triangle join would
    enumerate Θ(n³) wedges). Capping to the k strongest ties per node
    bounds edges at k·|V| and wedge work at O((k·|V|)^1.5) FOREVER,
    which is exactly how production similarity graphs (kNN graphs) are
    kept tractable. Per-order supplier fan-out is bounded by
    lines-per-order, so the within-order pair expansion is safe; the
    rank window shuffles the pair-count table (|E| rows, already
    aggregated), never the fact table."""
    os_ = _read(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s")
    ).distinct()
    a = os_.select("ok", F.col("s").alias("sa"))
    b = os_.select("ok", F.col("s").alias("sb"))
    pc = (
        a.join(b, "ok")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    directed = pc.select(F.col("sa").alias("node"), F.col("sb").alias("partner"), "n").unionByName(
        pc.select(F.col("sb").alias("node"), F.col("sa").alias("partner"), "n")
    )
    w = Window.partitionBy("node").orderBy(F.desc("n"), F.asc("partner"))
    top = directed.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= TRI_TOP_K)
    edges = graph.undirected_edges(top, "node", "partner")
    return graph.triangle_stats(edges)


SQL_TRIANGLE_COUNT = f"""
WITH os AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
pc AS (
  SELECT a.s AS sa, b.s AS sb, count(*) AS n
  FROM os a JOIN os b ON a.ok = b.ok AND a.s < b.s
  GROUP BY 1, 2
),
directed AS (
  SELECT sa AS node, sb AS partner, n FROM pc
  UNION ALL
  SELECT sb AS node, sa AS partner, n FROM pc
),
top AS (
  SELECT node, partner FROM (
    SELECT node, partner,
           row_number() OVER (PARTITION BY node ORDER BY n DESC, partner ASC) AS rk
    FROM directed
  ) WHERE rk <= {TRI_TOP_K}
),
edges AS (
  SELECT DISTINCT least(node, partner) AS lo, greatest(node, partner) AS hi FROM top
),
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT lo AS node FROM edges UNION ALL SELECT hi AS node FROM edges
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN dl.deg < dh.deg OR (dl.deg = dh.deg AND e.lo < e.hi) THEN e.lo ELSE e.hi END AS src,
         CASE WHEN dl.deg < dh.deg OR (dl.deg = dh.deg AND e.lo < e.hi) THEN e.hi ELSE e.lo END AS dst
  FROM edges e JOIN deg dl ON dl.node = e.lo JOIN deg dh ON dh.node = e.hi
),
tri AS (
  SELECT count(*)::BIGINT AS n_triangles
  FROM oriented e1 JOIN oriented e2 ON e2.src = e1.dst
       JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
summary AS (
  SELECT count(*)::BIGINT AS n_nodes,
         (sum(deg) / 2)::BIGINT AS n_edges,
         sum(deg * (deg - 1) / 2)::BIGINT AS n_wedges
  FROM deg
)
SELECT n_nodes, n_edges, n_triangles,
       CASE WHEN n_wedges > 0 THEN round(3.0 * n_triangles / n_wedges, 6) ELSE 0.0 END AS clustering_coeff
FROM summary CROSS JOIN tri
"""


def q_pareto_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): suppliers not dominated on
    (revenue, distinct parts supplied) — the multi-criteria shortlist
    no single ORDER BY expresses. Spark side is the O(n log n) sweep
    (operators/skyline.py, property-tested against brute force):
    group to per-distinct-revenue maxima, one ordered window computes
    the strictly-greater-revenue threshold, survivors = rows matching
    their group max AND beating the threshold. The oracle is the O(n²)
    textbook NOT EXISTS definition — same semantics, different plan,
    which is the point. At 100 TB: range-partition by revenue,
    skyline each partition locally (removes ~all rows), then sweep
    the per-partition survivors — the final window touches only
    frontier candidates, never the fact table."""
    sup = (
        _read(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(
            # 4 dp, like the other revenue sums: each term sits on the
            # 1e-4 grid, so a 2-dp round can land exactly on a half
            # and the engines' float summation order decides the tie
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )
    return (
        skyline.skyline_2d(sup, "revenue", "n_parts")
        .select("s_suppkey", "revenue", "n_parts")
        .orderBy(F.desc("revenue"), F.asc("s_suppkey"))
    )


SQL_PARETO_SUPPLIERS = """
WITH sup AS (
  SELECT l_suppkey AS s_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
         count(DISTINCT l_partkey) AS n_parts
  FROM lineitem GROUP BY 1
)
SELECT s_suppkey, revenue, n_parts
FROM sup a
WHERE NOT EXISTS (
  SELECT 1 FROM sup b
  WHERE b.revenue >= a.revenue AND b.n_parts >= a.n_parts
    AND (b.revenue > a.revenue OR b.n_parts > a.n_parts)
)
ORDER BY revenue DESC, s_suppkey ASC
"""


DSIR_BUCKETS = 1024
DSIR_TOP_K = 100


def q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by the mean hashed-unigram log-likelihood ratio between a target
    distribution (here: lang='en' docs) and the full pool, keep the
    top-k. The hashed feature space (md5 → 1024 buckets) is the
    published trick that bounds the model state to a constant-size
    table regardless of vocabulary, so both n-gram models fit in a
    broadcast — the fact-table tokens shuffle ONCE (the bucket
    groupBy); scoring is a broadcast join + per-doc avg. Smoothing is
    add-one over the bucket space."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(text.tokens(F.col("text"))).alias("term"),
    ).withColumn("b", hash64(F.col("term"), SEED, "dsir") % DSIR_BUCKETS)
    counts = toks.groupBy("b").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("nt"),
        F.count(F.lit(1)).alias("np"),
    )
    totals = counts.agg(F.sum("nt").alias("tN"), F.sum("np").alias("pN"))
    llr = F.log((F.col("nt") + 1) / (F.col("tN") + DSIR_BUCKETS)) - F.log(
        (F.col("np") + 1) / (F.col("pN") + DSIR_BUCKETS)
    )
    return (
        toks.join(F.broadcast(counts), "b")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(F.round(F.avg(llr), 6).alias("dsir_score"), F.count(F.lit(1)).alias("n_tokens"))
        .orderBy(F.desc("dsir_score"), F.asc("doc_id"))
        .limit(DSIR_TOP_K)
    )


def sql_dsir_selection() -> str:
    b_expr = f"({sql_hash64('term', SEED, 'dsir')} % {DSIR_BUCKETS})"
    return f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({_toks_sql("text")}) AS term FROM documents
),
bucketed AS (SELECT doc_id, lang, {b_expr} AS b FROM toks),
counts AS (
  SELECT b, sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt, count(*) AS np
  FROM bucketed GROUP BY b
),
totals AS (SELECT sum(nt) AS tN, sum(np) AS pN FROM counts)
SELECT doc_id,
       round(avg(ln((nt + 1) / (tN + {DSIR_BUCKETS})) - ln((np + 1) / (pN + {DSIR_BUCKETS}))), 6) AS dsir_score,
       count(*) AS n_tokens
FROM bucketed JOIN counts USING (b) CROSS JOIN totals
GROUP BY doc_id
ORDER BY dsir_score DESC, doc_id ASC
LIMIT {DSIR_TOP_K}
"""


def q_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge iteration: the corpus-wide frequency of
    every adjacent character pair, weighted by word frequency — the
    inner loop of byte-pair-encoding vocabulary construction. The
    corpus collapses to the (word, count) vocabulary table FIRST (one
    shuffle bounded by |vocab|, with map-side partial counts), so the
    per-character pair expansion runs over unique words, not over the
    100 TB token stream. The adjacent pair is substring(word, i, 2)
    mapped over 1..len-1 — the lambda captures only a plain attribute,
    so no per-element recompute (see the HOF O(n²) capture trap fixed
    in round 6)."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    words = (
        d.select(F.explode(text.tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = words.select(
        F.explode(F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


def sql_bpe_merge_step() -> str:
    return f"""
WITH words AS (
  SELECT w, count(*) AS wc
  FROM (SELECT unnest({_toks_sql("text")}) AS w FROM documents)
  WHERE length(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair, wc
  FROM words
)
SELECT pair, sum(wc)::BIGINT AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT 20
"""


def q_bpe_merge_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained BPE merge iterations — proves the vocab-table
    recurrence COMPOSES without ever touching the raw token stream
    again, the property that makes distributed BPE training viable:
    after the corpus collapses to (word, count) once, every subsequent
    merge round is arithmetic over the |vocab|-sized table.

    Each word is carried as a space-prefixed symbol string (`' w o r d'`
    — every symbol prefixed by one space; symbols never contain spaces,
    so `replace(s, ' a ' || ' b', ' ab')` is EXACTLY the greedy
    left-to-right non-overlapping BPE merge, in Spark, DuckDB, and
    Python alike). Step 1 picks the winning adjacent pair (max corpus
    frequency, ties to the lexicographically smallest — deterministic),
    applies it to the symbol strings via one broadcast 1-row join, and
    step 2 recounts adjacent SYMBOL pairs over the merged strings.
    Output: the step-2 top-20 (pair, n) with the step-1 winner carried
    as ``merged_pair`` — "m er"-style rows visible only if the chain
    actually composed.

    Scale: |vocab| rows after the first shuffle; the per-word symbol
    array is let-bound before the pair lambda (the HOF capture trap);
    the winner is a 1-row broadcast, never a driver round-trip."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    # the vocab table feeds TWO consumers (step-1 pair counts and the
    # merge projection) — the source_kl_divergence re-derivation trap
    # was checked here and does NOT bite: both consumers share the
    # identical groupBy exchange, so the plan carries a ReusedExchange
    # and the corpus is tokenized once (a materialize() cut was A/B'd
    # at sf0.1 and only added its checkpoint barrier: 0.88-1.19 s vs
    # 0.79-1.28 s without — plan-verified instead)
    words = (
        d.select(F.explode(text.tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    p1 = words.select(
        F.explode(F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).alias("pair"),
        "wc",
    )
    win = (
        p1.groupBy("pair")
        .agg(F.sum("wc").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(1)
        .select(F.col("pair").alias("merged_pair"))
    )
    sym = words.crossJoin(F.broadcast(win)).select(
        "wc",
        "merged_pair",
        F.replace(
            F.regexp_replace(F.col("w"), F.lit("(.)"), F.lit(" $1")),
            F.concat(F.lit(" "), F.substring("merged_pair", 1, 1), F.lit(" "), F.substring("merged_pair", 2, 1)),
            F.concat(F.lit(" "), F.col("merged_pair")),
        ).alias("s"),
    )
    arr = sym.select("wc", "merged_pair", F.split(F.expr("substring(s, 2)"), " ").alias("a"))
    p2 = arr.filter(F.size("a") >= 2).select(
        "wc",
        "merged_pair",
        F.explode(
            F.expr("transform(sequence(1, size(a) - 1), i -> concat(element_at(a, i), ' ', element_at(a, i + 1)))")
        ).alias("pair"),
    )
    return (
        p2.groupBy("merged_pair", "pair")
        .agg(F.sum("wc").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


def sql_bpe_merge_chain() -> str:
    return f"""
WITH words AS (
  SELECT w, count(*) AS wc
  FROM (SELECT unnest({_toks_sql("text")}) AS w FROM documents)
  WHERE length(w) >= 2 GROUP BY w
),
p1 AS (SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i::INT, 2))) AS pair, wc FROM words),
win AS (SELECT pair AS merged_pair FROM (
  SELECT pair, sum(wc) AS n FROM p1 GROUP BY 1 ORDER BY n DESC, pair ASC LIMIT 1)),
sym AS (SELECT wc, merged_pair,
               replace(regexp_replace(w, '(.)', ' \\1', 'g'),
                       ' ' || substr(merged_pair, 1, 1) || ' ' || substr(merged_pair, 2, 1),
                       ' ' || merged_pair) AS s
        FROM words, win),
arr AS (SELECT wc, merged_pair, string_split(substr(s, 2), ' ') AS a FROM sym),
p2 AS (SELECT wc, merged_pair,
              unnest(list_transform(range(1, len(a)), i -> a[i::INT] || ' ' || a[i::INT + 1])) AS pair
       FROM arr WHERE len(a) >= 2)
SELECT merged_pair, pair, sum(wc)::BIGINT AS n
FROM p2 GROUP BY 1, 2 ORDER BY n DESC, pair ASC LIMIT 20
"""


BPE_TRAIN_MERGES = 6


def q_bpe_vocab_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTUAL distributed BPE training loop (operators/bpe.py
    bpe_train — the same code path the `bpe-train` CLI runs) under the
    driver gate, r8 verdict task 5: 6 merge rounds over the documents
    vocabulary, emitting the per-round winner trace (rnd, pair, n)
    where n is the corpus-weighted frequency the winner held when
    chosen. Round i's counts depend on the sentinel-delimited replaces
    of rounds 1..i-1, so a green verdict pins the full recurrence —
    counting, argmax tie-breaks, AND merge application (the sentinel
    right-boundary machinery bpe_merge_step/chain can't reach, since
    merge #1/#2 still operate on single-char symbols).

    Scale shape (see bpe.py module docstring): ONE corpus-touching
    shuffle (the vocab groupBy, whose exchange is reused by every
    round's job), then each round is |vocab|-sized arithmetic with a
    1-row TakeOrdered collect — driver round-trips bounded by
    n_merges, the standard distributed-BPE-trainer shape. The output
    frame is the collected 6-row trace (LocalTableScan).

    The oracle unrolls the identical 6 rounds as chained CTEs (same
    sentinel representation via chr(1)) and gates rows on the
    cumulative n>=2 early-stop rule, so both engines emit the same
    prefix when training stops early (random fuzz corpora can)."""
    from rustic_witcher_spark.operators import bpe

    d = _spread(spark, _read(spark, sf_dir, "documents"))
    _, _, trace = bpe.bpe_train(d, n_merges=BPE_TRAIN_MERGES, return_trace=True)
    rows = [(i + 1, pair, n) for i, (pair, n) in enumerate(trace)]
    return spark.createDataFrame(rows, "rnd int, pair string, n long")


def _bpe_train_ctes(n_merges: int) -> list[str]:
    """The unrolled DuckDB training recurrence — sentinel symbol form
    (' w\x01 o\x01 …' via chr(1)), per-round adjacent-symbol-pair
    counts / argmax / whole-pair replace, chained n_merges times into
    a ``rounds`` CTE — shared by sql_bpe_vocab_trained (emits the
    winner trace) and sql_bpe_encode (replays the winners over the
    corpus)."""
    parts = [f"""words AS (
  SELECT w, count(*) AS wc FROM (
    SELECT replace(t, chr(1), '') AS w
    FROM (SELECT unnest({_toks_sql("text")}) AS t FROM documents)
  ) WHERE length(w) >= 2 GROUP BY w
),
s0 AS (SELECT wc, regexp_replace(w, '(.)', ' \\1' || chr(1), 'g') AS s FROM words)"""]
    for i in range(1, n_merges + 1):
        prev = f"s{i - 1}"
        parts.append(f"""a{i} AS (SELECT wc, string_split(substr(replace(s, chr(1), ''), 2), ' ') AS a FROM {prev}),
c{i} AS (
  SELECT pair, sum(wc)::BIGINT AS n FROM (
    SELECT wc, unnest(list_transform(range(1, len(a)), j -> a[j::INT] || ' ' || a[j::INT + 1])) AS pair
    FROM a{i} WHERE len(a) >= 2
  ) GROUP BY pair
),
w{i} AS (SELECT pair, n FROM c{i} ORDER BY n DESC, pair ASC LIMIT 1),
s{i} AS (
  SELECT wc, replace(s,
    ' ' || split_part(pair, ' ', 1) || chr(1) || ' ' || split_part(pair, ' ', 2) || chr(1),
    ' ' || replace(pair, ' ', '') || chr(1)) AS s
  FROM {prev}, w{i}
)""")
    unions = "\nUNION ALL ".join(
        f"SELECT {i} AS rnd, pair, n FROM w{i}" for i in range(1, n_merges + 1)
    )
    parts.append(f"rounds AS ({unions})")
    return parts


def sql_bpe_vocab_trained(n_merges: int = BPE_TRAIN_MERGES) -> str:
    """Unrolled DuckDB twin of ``bpe.bpe_train(n_merges)``; the final
    select keeps only the prefix of rounds whose winners all had
    n >= 2 (the trainer's early-stop rule)."""
    parts = _bpe_train_ctes(n_merges)
    return f"""
WITH {','.join(parts)}
SELECT rnd, pair, n FROM rounds r
WHERE NOT EXISTS (SELECT 1 FROM rounds p WHERE p.rnd <= r.rnd AND p.n < 2)
ORDER BY rnd
"""


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE train→APPLY under the driver gate (r10 verdict task 6 — the
    tokenize-the-whole-corpus pass a real pipeline runs after
    training, completing train→apply the way pq went
    build-index→query-index): train 6 merges with the real trainer
    (`operators.bpe.bpe_train`), segment every document with the real
    inference rule (`bpe_apply` — merges replayed in training order as
    one generated projection: no UDF, no join, no shuffle), and emit
    per-doc token count, type count, and an md5 digest of the
    space-joined token sequence — the digest pins the exact
    segmentation (token ORDER included) without returning a container
    column the driver's canonicalizer can't hash.

    Scale shape: training is the one corpus-touching shuffle +
    |vocab|-sized rounds (bpe.py module doc); the apply pass is a
    scan-speed Catalyst projection over the corpus — at 100 TB this is
    the shape you want: the expensive recurrence runs over the
    (tiny) vocabulary, the big table is touched once to train and once
    to encode.

    The twin replays the identical 6 training rounds (shared CTE
    builder) and applies each round's winner to every token, gated by
    the cumulative n>=2 early-stop rule — a stopped round's pair
    coalesces to a chr(1)chr(1) search pattern, which cannot occur in
    sentinel form (every sentinel is followed by a space or the end),
    making it a no-op replace on both engines."""
    from rustic_witcher_spark.operators import bpe

    d = _spread(spark, _read(spark, sf_dir, "documents"))
    merges, _ = bpe.bpe_train(d, n_merges=BPE_TRAIN_MERGES)
    enc = bpe.bpe_apply(d.filter(F.col("text").isNotNull()), "text", merges)
    return enc.select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("bpe_tokens")).cast("long").alias("n_types"),
        F.md5(F.concat_ws(" ", "bpe_tokens")).alias("seq_digest"),
    ).orderBy("doc_id")


def sql_bpe_encode(n_merges: int = BPE_TRAIN_MERGES) -> str:
    """Twin of ``bpe_train + bpe_apply``: the shared training CTEs
    produce the per-round winners; ``eff_i`` NULLs a winner out when
    the cumulative early-stop rule excludes its round; the apply chain
    replays the effective merges per cleaned token (short words pass
    through as single tokens, mirroring bpe_apply's min_len rule).
    The digest coalesces array_to_string to '': DuckDB renders an
    empty token list as NULL where Spark's concat_ws gives '' — the
    zero-token doc must hash md5('') on both engines (dirty-corpus
    fuzz finding, r11)."""
    parts = _bpe_train_ctes(n_merges)
    for i in range(1, n_merges + 1):
        parts.append(
            f"eff{i} AS (SELECT CASE WHEN (SELECT count(*) FROM rounds p WHERE p.rnd <= {i}) = {i} "
            f"AND (SELECT min(n) FROM rounds p WHERE p.rnd <= {i}) >= 2 "
            f"THEN (SELECT pair FROM w{i}) END AS pair)"
        )
    mrg_cols = ", ".join(f"eff{i}.pair AS p{i}" for i in range(1, n_merges + 1))
    mrg_from = ", ".join(f"eff{i}" for i in range(1, n_merges + 1))
    parts.append(f"mrg AS (SELECT {mrg_cols} FROM {mrg_from})")
    seg = "regexp_replace(w, '(.)', ' \\1' || chr(1), 'g')"
    for i in range(1, n_merges + 1):
        pat = (
            f"coalesce(' ' || split_part(p{i}, ' ', 1) || chr(1) || "
            f"' ' || split_part(p{i}, ' ', 2) || chr(1), chr(1) || chr(1))"
        )
        rep = f"coalesce(' ' || replace(p{i}, ' ', '') || chr(1), '')"
        seg = f"replace({seg}, {pat}, {rep})"
    parts.append(f"""docs_toks AS (
  SELECT doc_id,
         list_filter(list_transform({_toks_sql("text")}, t -> replace(t, chr(1), '')), w -> length(w) > 0) AS ws
  FROM documents WHERE text IS NOT NULL
),
enc AS (
  SELECT doc_id,
         flatten(list_transform(ws, w -> CASE WHEN length(w) < 2 THEN [w]
           ELSE string_split(substr(replace({seg}, chr(1), ''), 2), ' ') END)) AS bpe
  FROM docs_toks, mrg
)""")
    return f"""
WITH {','.join(parts)}
SELECT doc_id, len(bpe)::BIGINT AS n_tokens, len(list_distinct(bpe))::BIGINT AS n_types,
       md5(coalesce(array_to_string(bpe, ' '), '')) AS seq_digest
FROM enc ORDER BY doc_id
"""


MIX_TAU = 0.7
MIX_BUDGET = 100_000


def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights — the standard multilingual /
    multi-source rebalancing rule (w_i ∝ n_i^τ, τ<1 upweights the
    tail; used by mT5 and most LLM data recipes) plus the resulting
    per-source document allocation for a sampling budget. One tiny
    groupBy(source) aggregate; everything downstream is arithmetic on
    a handful of rows."""
    d = _read(spark, sf_dir, "documents")
    srcs = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text.token_count(F.col("text"))).alias("n_tokens"),
    )
    tw = F.pow(F.col("n_tokens").cast("double"), F.lit(MIX_TAU))
    total = srcs.select(F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(MIX_TAU))).alias("tw_total"))
    return (
        srcs.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            # try_divide: a degenerate corpus (every source 0 tokens) makes
            # tw_total 0 — DuckDB yields NULL weights, ANSI Spark would raise.
            F.round(F.try_divide(tw, F.col("tw_total")), 6).alias("weight"),
            F.floor(F.try_divide(F.lit(MIX_BUDGET) * tw, F.col("tw_total")) + F.lit(0.5)).cast("long").alias("alloc_docs"),
        )
        .orderBy("source")
    )


def sql_mixture_temperature() -> str:
    return f"""
WITH srcs AS (
  SELECT source, count(*) AS n_docs, sum(len({_toks_sql("text")}))::BIGINT AS n_tokens
  FROM documents GROUP BY source
),
total AS (SELECT sum(power(n_tokens::DOUBLE, {MIX_TAU})) AS tw_total FROM srcs)
SELECT source, n_docs, n_tokens,
       round(power(n_tokens::DOUBLE, {MIX_TAU}) / tw_total, 6) AS weight,
       floor({MIX_BUDGET} * power(n_tokens::DOUBLE, {MIX_TAU}) / tw_total + 0.5)::BIGINT AS alloc_docs
FROM srcs CROSS JOIN total
ORDER BY source
"""


def q_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of l_extendedprice — the fraud/quality
    screen for financial columns: observed first-significant-digit
    frequencies vs Benford's log10(1+1/d) expectation, with the
    chi-square contribution per digit. The digit is extracted from the
    EXACT integer cent representation (floor(x·100+0.5) → string),
    never from log10(x) — on exact powers of ten the float log
    truncates inconsistently across engines. One scan, one 9-row
    aggregate; chi terms are computed from the already-rounded
    frequencies so the comparison is bit-exact by construction."""
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 0)
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    digits = li.select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"))
    # digit 0 (prices in (0, 0.005) round to 0 cents) would divide by zero
    # in the Benford expectation; both engines screen it identically.
    counts = digits.filter(F.col("digit").between(1, 9)).groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    observed = F.round(F.col("n") / F.col("total"), 6)
    expected = F.round(F.log10(1 + 1 / F.col("digit")), 6)
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            observed.alias("observed"),
            expected.alias("expected"),
            F.round(
                (observed - expected) * (observed - expected) / expected, 8
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


SQL_BENFORD_PROFILE = """
WITH digits AS (
  SELECT (substr(floor(l_extendedprice * 100 + 0.5)::BIGINT::VARCHAR, 1, 1))::INT AS digit
  FROM lineitem WHERE l_extendedprice > 0
),
counts AS (SELECT digit, count(*) AS n FROM digits WHERE digit BETWEEN 1 AND 9 GROUP BY digit),
total AS (SELECT sum(n)::BIGINT AS total FROM counts)
SELECT digit, n,
       round(n / total, 6) AS observed,
       round(log10(1 + 1.0 / digit), 6) AS expected,
       round((round(n / total, 6) - round(log10(1 + 1.0 / digit), 6))
             * (round(n / total, 6) - round(log10(1 + 1.0 / digit), 6))
             / round(log10(1 + 1.0 / digit), 6), 8) AS chi2_term
FROM counts CROSS JOIN total
ORDER BY digit
"""


RESERVOIR_K = 100
_U32_DENOM = 4294967297.0  # 2^32 + 1: slice+1 ∈ [1, 2^32] → u ∈ (0, 1]


def q_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via exponential races —
    the Efraimidis–Spirakis A-ES scheme (keys u^(1/w), equivalently
    priorities -ln(u)/w, smallest k win). Unlike the registry's
    hash-threshold samplers (Bernoulli, with-replacement semantics),
    this yields an exact-size k sample with inclusion probability
    proportional to weight, and it distributes perfectly: priorities
    are computed per-row from the deterministic md5 uniform, and the
    global top-k is a TakeOrdered — no shuffle of the data, only of
    k-row per-partition heads. Weights here: document length in
    chars (longer docs proportionally likelier)."""
    d = _read(spark, sf_dir, "documents")
    u = (hash_slice(md5_hex(F.col("doc_id").cast("string"), SEED, "res"), 1) + 1) / F.lit(_U32_DENOM)
    w = F.greatest(F.col("n_chars").cast("double"), F.lit(1.0))
    return (
        d.select(
            "doc_id",
            F.col("n_chars").alias("weight"),
            F.round(-F.log(u) / w, 9).alias("priority"),
        )
        .orderBy(F.asc("priority"), F.asc("doc_id"))
        .limit(RESERVOIR_K)
    )


def sql_weighted_reservoir() -> str:
    u = f"(({sql_hash_slice(sql_md5_hex('doc_id', SEED, 'res'), 1)} + 1) / {_U32_DENOM})"
    return f"""
SELECT doc_id, n_chars AS weight,
       round(-ln({u}) / greatest(n_chars::DOUBLE, 1.0), 9) AS priority
FROM documents
ORDER BY priority ASC, doc_id ASC
LIMIT {RESERVOIR_K}
"""


EWMA_ALPHA = 0.3
EWMA_LAGS = 12
# literal per-lag weights α(1-α)^k, embedded with full double precision in
# BOTH engines so no cross-engine pow() is involved
_EWMA_W = [EWMA_ALPHA * (1 - EWMA_ALPHA) ** k for k in range(EWMA_LAGS)]


def q_ewma_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per event type — the
    smoothing curve ops dashboards overlay on raw hourly series. True
    EWMA is a recursion no window frame expresses; this is the
    standard truncated-kernel form: 12 explicit lag terms with
    literal weights α(1-α)^k, renormalized over the lags that exist
    (series starts don't bias low). The weights are Python-computed
    doubles embedded as literals in both engines, so no runtime
    pow() parity risk; the additions are written in the same order in
    both, so the fold is bit-identical. Hourly pre-aggregation
    (as events_moving_avg) keeps the window input at hours-per-type
    grain, not raw events."""
    ev = _read(spark, sf_dir, "events").filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.round(F.sum("value"), 6).alias("hour_value"))
        .withColumn("__ep", F.unix_timestamp("hour"))
    )
    w = Window.partitionBy("event_type").orderBy("__ep")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k, wt in enumerate(_EWMA_W):
        lagged = F.lag("hour_value", k).over(w)
        num = num + F.when(lagged.isNotNull(), F.lit(wt) * lagged).otherwise(F.lit(0.0))
        den = den + F.when(lagged.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
    return (
        hourly.select(
            "event_type",
            F.date_format("hour", _FMT).alias("hour"),
            "hour_value",
            # try_divide: an hour whose value column is entirely NULL makes
            # every lag NULL and den fold to 0 — DuckDB yields NULL, ANSI
            # Spark would kill the job.
            F.round(F.try_divide(num, den), 6).alias("ewma"),
        )
        .orderBy("event_type", "hour")
    )


def sql_ewma_events() -> str:
    over = "OVER (PARTITION BY event_type ORDER BY ep)"
    num = " + ".join(
        f"(CASE WHEN lag(hour_value, {k}) {over} IS NOT NULL THEN {wt!r} * lag(hour_value, {k}) {over} ELSE 0.0 END)"
        for k, wt in enumerate(_EWMA_W)
    )
    den = " + ".join(
        f"(CASE WHEN lag(hour_value, {k}) {over} IS NOT NULL THEN {wt!r} ELSE 0.0 END)"
        for k, wt in enumerate(_EWMA_W)
    )
    return f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         round(sum(value), 6) AS hour_value,
         epoch(date_trunc('hour', ts))::BIGINT AS ep
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, {_fmt_sql('hour')} AS hour, hour_value,
       round(({num}) / ({den}), 6) AS ewma
FROM hourly ORDER BY event_type, hour
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, the
    count and Jaccard of shared word-3-gram fingerprints — the audit a
    curation pipeline runs before declaring two crawls independent
    (and the source-granular face of `decontaminate`). Reuses the
    dedup gram machinery (ONE md5 per token, arithmetic gram combine).
    Scale shape: the corpus collapses to DISTINCT (source, gram) rows
    first — bounded by |sources|·|gram vocab|, not token count — and
    the self-join key is the gram hash, whose per-key fan-out is at
    most |sources| rows, so the join can never quadratically blow up
    the way a doc-level pair join would."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    sg = d.select(
        "source", F.explode(dedup.word_shingle_hashes(F.col("text"), seed=SEED)).alias("g")
    ).distinct()
    sizes = sg.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = sg.select(F.col("source").alias("source_a"), "g")
    b = sg.select(F.col("source").alias("source_b"), "g")
    shared = (
        a.join(b, "g")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared")), 6).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def sql_source_overlap() -> str:
    return f"""
WITH th AS (SELECT source, {_sql_tok_h()} AS tok_h, {_norm_sql('text')} AS norm FROM documents),
exploded AS (
  SELECT source, unnest({_sql_word3_hashes('norm')}) AS g FROM th
),
sg AS (SELECT DISTINCT source, g FROM exploded),
sizes AS (SELECT source, count(*) AS n FROM sg GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared,
       round(n_shared / (sa.n + sb.n - n_shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
ORDER BY source_a, source_b
"""


def _sql_doc_grams_sg() -> str:
    """DuckDB twin of ``explode(array_distinct(word_shingle_hashes(text)))``
    keyed by doc_id — the shared (doc_id, g) CTE body for the
    containment / novelty entries (same gram arithmetic as
    sql_source_overlap / the minhash twins: ONE md5 per token,
    arithmetic 3-gram combine mod M31)."""
    # text IS NOT NULL: lockstep with the Spark operators' NULL-text
    # drop (dedup.doc_grams)
    return (
        f"th AS (SELECT doc_id, {_sql_tok_h()} AS tok_h, {_norm_sql('text')} AS norm FROM documents"
        f" WHERE text IS NOT NULL),\n"
        f"sg AS (SELECT doc_id, unnest(list_distinct({_sql_word3_hashes('norm')})) AS g FROM th)"
    )


def q_containment_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-in-doc containment dedup via prefix filtering (SSJoin /
    PPJoin) — the asymmetric near-dup class MinHash banding
    structurally misses: a short doc quoted whole inside a long one has
    containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, below every LSH
    threshold. See operators/dedup.containment_near_duplicates for the
    algorithm and the integer-arithmetic threshold discipline (prefix
    length and the ≥1/2 keep test never touch floats, so the engines
    cannot disagree at a boundary). max_posting=None: the registry
    face is UNCAPPED so the oracle reproduces the exact pair set, and
    (r10) None now skips the cap stages entirely instead of paying a
    full-frame row_number against an astronomically large bound; the
    operator default caps degenerate posting lists at web scale."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    return dedup.containment_near_duplicates(
        d, "text", "doc_id", seed=SEED, max_posting=None
    ).orderBy("id_a", "id_b")


def sql_containment_near_dups() -> str:
    return f"""
WITH {_sql_doc_grams_sg()},
sizes AS (SELECT doc_id, count(*) AS sz FROM sg GROUP BY 1),
freq AS (SELECT g, count(*) AS nf FROM sg GROUP BY 1),
ranked AS (
  SELECT s.doc_id, s.g,
         row_number() OVER (PARTITION BY s.doc_id ORDER BY f.nf ASC, s.g ASC) AS pos
  FROM sg s JOIN freq f USING (g)
),
probe AS (
  SELECT r.doc_id, r.g FROM ranked r JOIN sizes z USING (doc_id)
  WHERE r.pos <= z.sz - ((z.sz + 1) // 2) + 1
),
cands AS (
  SELECT DISTINCT least(p.doc_id, s.doc_id) AS id_a, greatest(p.doc_id, s.doc_id) AS id_b
  FROM probe p JOIN sg s ON p.g = s.g AND p.doc_id <> s.doc_id
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cands c
  JOIN sg a ON a.doc_id = c.id_a
  JOIN sg b ON b.doc_id = c.id_b AND b.g = a.g
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b, i.n_inter, za.sz AS sz_a, zb.sz AS sz_b,
       round(i.n_inter / za.sz, 6) AS cont_a_in_b,
       round(i.n_inter / zb.sz, 6) AS cont_b_in_a
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
WHERE 2 * i.n_inter >= least(za.sz, zb.sz)
ORDER BY 1, 2
"""


def q_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty curation signal: per document, the fraction of
    its DISTINCT word-3-gram shingles whose global FIRST owner
    (min doc_id — ingestion order) is this document. Low-novelty docs
    add little over the corpus already ingested before them — the
    greedy selection signal incremental curation (D4-style) ranks by,
    and the per-doc face of chunk_dedup's duplicate-chunk counts.
    Scale shape (r10): ONE materialized (doc, gram) distinct
    projection, first-owner via two-phase groupBy(g).min + join-back
    (partial aggregation absorbs Zipfian hot grams map-side; the r9
    min-over-window form was single-reducer-per-gram — see
    operators/dedup.novelty_scores), then a map-combinable doc
    rollup. No pair enumeration anywhere. Shared with the `novelty`
    CLI (one-shot mode); the incremental face is
    streaming/novelty.py."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    return dedup.novelty_scores(d, "text", "doc_id", seed=SEED).orderBy("doc_id")


def sql_novelty_scores() -> str:
    return f"""
WITH {_sql_doc_grams_sg()},
first AS (SELECT g, min(doc_id) AS first_doc FROM sg GROUP BY 1)
SELECT s.doc_id, count(*) AS n_shingles,
       sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
       round(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) / count(*), 6) AS novelty
FROM sg s JOIN first f USING (g)
GROUP BY 1 ORDER BY 1
"""


def q_novelty_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental novelty — the r9 streaming module under the driver
    gate (r9 verdict task 6): the corpus splits into a standing corpus
    (doc_id % 10 < 8, the `dedup_incremental` split convention) and a
    new batch (doc_id % 10 >= 8); both route through the REAL
    streaming scoring path (`streaming.novelty.novelty_append_batch` —
    explode → LEFT-join the persisted gram-first-owner index → score →
    append) as micro-batches 0 and 1 against a fresh index dir, and
    the entry returns batch 1's persisted scores. A batch doc's gram
    is novel iff no standing-corpus doc owns it AND the doc is the
    batch's first owner — processing-order semantics, the honest
    streaming meaning of "novel" (streaming/novelty.py:27-32).

    The index dir is a FRESH mkdtemp per invocation (the replay cursor
    would skip batch ids 0/1 as already-processed in a reused dir);
    the previous invocation's dir is wiped first so repeated bench
    passes don't accumulate. Scale shape per micro-batch: O(batch
    grams + gram-keyed index join) — never a corpus re-scan
    (novelty.py:14-17); the returned frame is a parquet read of the
    scores partition.

    Bench note: ~3.1 s at sf0.1 vs a ~0.5 s SQL twin — the gap is the
    REAL streaming machinery this entry exists to grade, itemized in
    BASELINE.md §novelty_incremental after the r11 rework (r10 verdict
    task 3): per batch, one shingle-explode projection (persisted —
    both write jobs consume it), one gram-shuffle aggregate + index
    join feeding the index append, one doc-shuffle aggregate feeding
    the score write (its novel counts come from the KB-scale
    read-back of the just-written fresh partition, NOT a second index
    join), and two parquet commits + replay-cursor metadata; the old
    read-back count() job now rides the append as an observed metric.
    Two cycles of that ≈ 2× the one-job batch face (`novelty_scores`),
    which is the irreducible shape of two sequential micro-batches. At
    production batch sizes the per-batch floor amortizes to noise."""
    from rustic_witcher_spark.streaming.novelty import novelty_append_batch

    d = _spread(spark, _read(spark, sf_dir, "documents"))
    idx = _fresh_workdir("novelty_inc")
    novelty_append_batch(d.filter((F.col("doc_id") % 10) < 8), 0, idx, text_col="text", id_col="doc_id", seed=SEED)
    novelty_append_batch(d.filter((F.col("doc_id") % 10) >= 8), 1, idx, text_col="text", id_col="doc_id", seed=SEED)
    return (
        spark.read.schema("doc_id long, n_shingles long, n_novel long, novelty double")
        .parquet(os.path.join(idx, "scores", "batch=1"))
        .orderBy("doc_id")
    )


def sql_novelty_incremental() -> str:
    """Twin of the streaming scoring path at the two-batch cut: a
    batch gram is novel iff absent from the standing corpus's gram set
    AND first-owned (min doc_id) within the batch."""
    return f"""
WITH {_sql_doc_grams_sg()},
idx AS (SELECT DISTINCT g FROM sg WHERE doc_id % 10 < 8),
newb AS (SELECT doc_id, g FROM sg WHERE doc_id % 10 >= 8),
firstb AS (SELECT g, min(doc_id) AS first_doc FROM newb GROUP BY 1)
SELECT n.doc_id, count(*) AS n_shingles,
       sum(CASE WHEN i.g IS NULL AND f.first_doc = n.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
       round(sum(CASE WHEN i.g IS NULL AND f.first_doc = n.doc_id THEN 1 ELSE 0 END) / count(*), 6) AS novelty
FROM newb n JOIN firstb f USING (g) LEFT JOIN idx i USING (g)
GROUP BY 1 ORDER BY 1
"""


def q_cdc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply under the driver gate (r10 verdict task 2):
    the reference's J1/S9 incremental semantics (last-writer-wins per
    PK, Op='D' deletes — cdc_operator.rs:308-328) routed through the
    REAL foreachBatch merge path (`streaming.cdc_stream
    .parquet_snapshot_merger`, the exact callable
    `streaming_cdc_apply` registers) as three ordered micro-batches
    over the cdc_upsert fixture family: batch 0 = the full load (every
    event as Op='I', ts=1); batch 1 = DMS updates (event_id%10==0,
    value+1000, ts=2) + deletes (event_id%17==0, ts=3); batch 2 =
    re-inserts of the even deleted keys (event_id%34==0, value+5000,
    ts=4) — the delete-then-reinsert shape a tombstone-wins-forever
    apply silently gets wrong. Each batch merges into the parquet
    snapshot behind the crash-safe backup/promote swap; the entry
    returns the persisted post-batch-2 snapshot.

    The snapshot dir is a fresh mkdtemp per invocation (previous runs
    wiped first) — the novelty_incremental discipline. Scale shape per
    micro-batch: ONE pk-hash shuffle (the last-writer window) plus the
    anti-join against the snapshot; a production deployment registers
    a Delta/Iceberg MERGE as its foreachBatch callable instead, which
    is this same join pruned to touched partitions.

    Twin: sequential batch replay equals ONE last-ts-wins merge of the
    combined CDC set because ts strictly increases across batches —
    which is what the SQL replays. The base-survivor side uses NOT
    EXISTS (anti-join semantics), not NOT IN: a dirty NULL-pk base row
    must survive on both engines (NOT IN would three-value it away in
    DuckDB while Spark's left_anti keeps it)."""
    from rustic_witcher_spark.streaming.cdc_stream import parquet_snapshot_merger

    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")

    def tagged(df: DataFrame, op: str, ts: int) -> DataFrame:
        return df.withColumn("Op", F.lit(op)).withColumn(
            "_dms_ingestion_timestamp", F.lit(ts).cast("long")
        )

    b0 = tagged(ev, "I", 1)
    b1 = tagged(
        ev.filter(F.col("event_id") % 10 == 0).withColumn("value", F.col("value") + 1000),
        "U", 2,
    ).unionByName(tagged(ev.filter(F.col("event_id") % 17 == 0), "D", 3))
    b2 = tagged(
        ev.filter(F.col("event_id") % 34 == 0).withColumn("value", F.col("value") + 5000),
        "I", 4,
    )
    snap = os.path.join(_fresh_workdir("cdc_inc"), "snapshot")
    merge = parquet_snapshot_merger(spark, snap, pk=["event_id"])
    for i, b in enumerate((b0, b1, b2)):
        merge(b, i)
    return (
        spark.read.schema("event_id long, user_id long, event_type string, value double")
        .parquet(snap)
        .orderBy("event_id")
    )


def sql_cdc_incremental() -> str:
    """Twin replaying the three-batch cut: ts strictly increases across
    batches, so sequential application == combined last-ts-wins."""
    return """
WITH base AS (SELECT event_id, user_id, event_type, value FROM events),
cdc AS (
  SELECT event_id, user_id, event_type, value + 1000 AS value, 'U' AS op, 2 AS ts FROM events WHERE event_id % 10 = 0
  UNION ALL
  SELECT event_id, user_id, event_type, value, 'D' AS op, 3 AS ts FROM events WHERE event_id % 17 = 0
  UNION ALL
  SELECT event_id, user_id, event_type, value + 5000 AS value, 'I' AS op, 4 AS ts FROM events WHERE event_id % 34 = 0
),
latest AS (
  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) AS rn FROM cdc) WHERE rn = 1
)
SELECT b.event_id, b.user_id, b.event_type, b.value FROM base b
WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.event_id = b.event_id)
UNION ALL
SELECT event_id, user_id, event_type, value FROM latest WHERE op <> 'D'
ORDER BY event_id
"""


def q_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 maintenance under the driver gate (r10 verdict
    task 2): the events log splits at its median timestamp into two
    ordered micro-batches, both routed through the REAL foreachBatch
    merge path (`streaming.scd2_stream.scd2_snapshot_merger` — batch 0
    builds the history, batch 1 exercises the touched/untouched split,
    the weighted pseudo-event feedback, and the interval rebuild); the
    entry returns the persisted merged history.

    The cut is ONE bounded driver collect (a single median double —
    the vocab_growth budget class). ANY ts cut keeps each key's events
    nondecreasing across batches — the ordering contract under which
    stream ≡ batch EXACTLY (scd2_stream.py module doc, pinned at
    arbitrary ascending cuts in test_scd2_stream.py) — so the DuckDB
    twin replaying the cut IS the full-history build: SQL_SCD2_HISTORY
    verbatim. NULL-ts rows fall out of both batch filters, in lockstep
    with the builder's NULL-ts drop and the twin's WHERE.

    History dir is a fresh mkdtemp per invocation. Scale shape per
    micro-batch: one semi + one anti join against the history on the
    key hash plus a single-Exchange interval rebuild over ONLY the
    touched keys' rows — proportional to batch key cardinality, never
    to history size (scd2_stream.py:38-44)."""
    from rustic_witcher_spark.streaming.scd2_stream import scd2_snapshot_merger

    ev = read_events(spark, sf_dir).select("event_id", "ts", "user_id", "event_type")
    cut = ev.selectExpr("percentile(cast(ts AS long), 0.5) AS c").first()["c"]
    b0 = ev.filter(F.col("ts").cast("long") <= F.lit(cut))
    b1 = ev.filter(F.col("ts").cast("long") > F.lit(cut))
    hist_path = os.path.join(_fresh_workdir("scd2_inc"), "history")
    merge = scd2_snapshot_merger(
        spark, hist_path, ["user_id"], ["event_type"], "ts", tiebreak_cols=["event_id"]
    )
    merge(b0, 0)
    merge(b1, 1)
    hist = read_table_files(spark, (hist_path,))
    return hist.select(
        "user_id",
        F.col("event_type").alias("state"),
        _fmt(F.col("valid_from")).alias("valid_from"),
        _fmt(F.col("valid_to")).alias("valid_to"),
        "is_current",
        "n_changes",
    ).orderBy(
        F.col("user_id").asc(),
        F.col("valid_from").asc(),
        F.col("state").asc(),
        F.col("valid_to").asc_nulls_last(),
    )


def _ordered_stream_source(
    spark: SparkSession, parts: list[DataFrame], work: str, fmt: str = "parquet"
) -> str:
    """Materialize DataFrames as a file-source streaming dir whose
    batch ORDER is deterministic: one file per part, ascending names
    AND ascending mtimes (FileStreamSource takes the oldest timestamp
    first, ties broken by path — both keys agree here), so a
    ``maxFilesPerTrigger=1`` reader replays the parts as ordered
    micro-batches. ``fmt="text"`` writes line files (the part must be
    a single string column) for JSONL/CSV sources. Returns the source
    dir."""
    src = os.path.join(work, "stream_src")
    os.makedirs(src, exist_ok=True)
    ext = {"parquet": "parquet", "text": "jsonl"}[fmt]
    # ONE staged write for ALL parts (was one Spark job per part): tag
    # each part with its batch index, union, and let the dynamic-
    # partition writer split them into __b=i/ dirs in a single
    # coalesce(1) task. Saves (len(parts)-1) job round-trips per source
    # — at this entry class's size the job floor IS the cost. The
    # within-file row content is identical (each part's rows land in
    # exactly its __b dir); the gated operators are all within-batch
    # order-insensitive by contract (admission ranks orderable keys,
    # counters/digests are commutative), pinned by the oracle gate.
    staged = os.path.join(work, "staged")
    tagged = [p.withColumn("__b", F.lit(i)) for i, p in enumerate(parts)]
    allp = reduce(lambda a, b: a.unionByName(b), tagged)
    writer = allp.coalesce(1).write.mode("overwrite").partitionBy("__b")
    if fmt == "text":
        writer.text(staged)
    else:
        writer.parquet(staged)
    empty_schema = None
    for i in range(len(parts)):
        found = glob.glob(os.path.join(staged, f"__b={i}", "part-*"))
        dst = os.path.join(src, f"{i:05d}.{ext}")
        if found:
            shutil.copyfile(found[0], dst)
        elif fmt == "text":
            open(dst, "wb").close()  # 0-row batch: empty JSONL file
        else:
            # 0-row batch: valid empty parquet with the part schema.
            # NB: pyarrow's footer conventions (timestamp annotations,
            # field metadata) can differ from Spark-written files — safe
            # here ONLY because every readStream caller passes an
            # explicit schema and the file has zero row groups; a future
            # caller relying on schema INFERENCE over the staged dir
            # must not (ADVICE r12).
            import pyarrow.parquet as pq_mod
            from pyspark.sql.pandas.types import to_arrow_schema

            if empty_schema is None:
                empty_schema = to_arrow_schema(parts[0].schema)
            import pyarrow as pa

            pq_mod.write_table(pa.table({f.name: [] for f in empty_schema}, schema=empty_schema), dst)
        base = 1_000_000_000 + i * 1000
        os.utime(dst, (base, base))
    return src


QUOTA_INC_CAP = 3


class _pinned_shuffle_partitions:
    """Pin spark.sql.shuffle.partitions around a streaming query.

    Stateful streaming sizes its STATE STORE by this conf (one state
    partition per shuffle partition, fixed for the checkpoint's life)
    and AQE does not coalesce stateful streams — so under the driver's
    vanilla session (default 200) the gate entries paid 200 state
    tasks per micro-batch for KB-scale state: measured 12-22 s for
    quota_incremental at 200 vs ~3 s at 8-32. Fresh checkpoints per
    invocation make the pin safe; the conf is restored on exit
    (runtime confs bind at action time, and the streaming query has
    terminated by then).

    The pin is REFCOUNTED under a condition variable so concurrent
    driver threads (guide §2.6 job overlap — the test sweeps and any
    embedding host) can hold same-valued pins simultaneously: the
    first pin saves and sets the conf, the last restores it, and a pin
    for a DIFFERENT value waits its turn. The old bare set/restore
    pair could interleave two threads into restoring the wrong value
    into the session."""

    _cv = threading.Condition()
    _active_n: int | None = None
    _count = 0
    _saved: str | None = None

    def __init__(self, spark: SparkSession, n: int = 8):
        self.spark, self.n = spark, n

    def __enter__(self):
        cls = _pinned_shuffle_partitions
        with cls._cv:
            while cls._active_n is not None and cls._active_n != self.n:
                cls._cv.wait()
            if cls._count == 0:
                cls._saved = self.spark.conf.get("spark.sql.shuffle.partitions")
                self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
                cls._active_n = self.n
            cls._count += 1

    def __exit__(self, *exc):
        cls = _pinned_shuffle_partitions
        with cls._cv:
            cls._count -= 1
            if cls._count == 0:
                self.spark.conf.set("spark.sql.shuffle.partitions", cls._saved)
                cls._active_n = None
                cls._saved = None
                cls._cv.notify_all()
        return False


def _ordered_stream(spark: SparkSession, parts: list[DataFrame], work: str) -> DataFrame:
    """A file-source stream that replays ``parts`` as ordered
    micro-batches, one part per trigger (see _ordered_stream_source).
    The reader takes the first part's schema, which is the schema every
    staged file was written with."""
    src = _ordered_stream_source(spark, parts, work)
    return spark.readStream.schema(parts[0].schema).option("maxFilesPerTrigger", "1").parquet(src)


def _run_to_memory(
    spark: SparkSession, stream: DataFrame, name: str, work: str, output_mode: str, partitions: int = 8
) -> DataFrame:
    """Drive ``stream`` to completion into the memory sink ``name``
    (availableNow trigger, checkpoint under ``work``) and return the
    sink table. A sink table of the same name from a previous
    invocation is dropped first; the checkpoint is fresh because
    ``work`` is. State partitions are pinned at ``partitions`` for the
    run (see _pinned_shuffle_partitions)."""
    spark.catalog.dropTempView(name)
    with _pinned_shuffle_partitions(spark, partitions):
        (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(name)


def q_quota_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-key quota admission under the driver gate — the
    first of the custom-STATEFUL modules graded end-to-end: an actual
    Structured Streaming query (file source split at the median
    event_id into two ordered micro-batches via _ordered_stream_source,
    availableNow trigger, memory sink) running the REAL
    `streaming.quota.streaming_quota_filter` applyInPandasWithState
    operator — admit the first QUOTA_INC_CAP events per user across
    the whole stream, one long of state per key.

    Determinism: admission order is (arrival batch, event_id within
    batch); batches are cut and ordered BY event_id, so admission ==
    global event_id order and the twin is the batch row_number form —
    exactly the module's stream ≡ batch contract
    (streaming/quota.py:7-11). NULL-key rows drop on both sides (the
    registry's NULL-join-key convention: a quota keyed on an absent
    user is meaningless). The median cut is ONE bounded driver double.

    Scale: state is |keys| longs regardless of stream length;
    saturated keys do constant work per batch. The returned frame is a
    memory-sink scan — the Python state stage runs inside the entry,
    the graded plan is the sink read."""
    from rustic_witcher_spark.streaming.quota import streaming_quota_filter

    ev = read_events(spark, sf_dir).select("event_id", "user_id").filter(
        F.col("user_id").isNotNull() & F.col("event_id").isNotNull()
    )
    cut = ev.selectExpr("percentile(event_id, 0.5) AS c").first()["c"]
    work = _fresh_workdir("quota_inc")
    stream = _ordered_stream(
        spark, [ev.filter(F.col("event_id") <= F.lit(cut)), ev.filter(F.col("event_id") > F.lit(cut))], work
    )
    admitted = streaming_quota_filter(stream, quota=QUOTA_INC_CAP)
    return _run_to_memory(spark, admitted, "rw_quota_inc_result", work, "append").orderBy("user_id", "admit_rank")


def sql_quota_incremental() -> str:
    """Twin of the two-batch stream at an event_id-ordered cut:
    admission == global event_id order == the batch row_number form."""
    return f"""
SELECT user_id, event_id, admit_rank FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS admit_rank
  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
) WHERE admit_rank <= {QUOTA_INC_CAP}
ORDER BY user_id, admit_rank
"""


def q_stateful_totals_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful running aggregate under the driver gate: the
    REAL `streaming.stateful.running_user_totals`
    applyInPandasWithState operator over the same two ordered
    micro-batches as quota_incremental (update-mode memory sink). The
    sink accumulates every per-batch update; the FINAL state per user
    is the update with the largest n_events (n strictly increases per
    emitted update), selected with max_by — and must equal the batch
    groupBy over the whole log, the operator's running ≡ final
    contract. NULL-key rows drop on both sides; NULL values count as
    0 in the total (the state fn's fillna), and the 4-dp round keeps
    the float sum exact across summation orders (values are k/100 —
    accumulated error ≪ 5e-5).

    Scale: state is two scalars per key; each micro-batch's work is the
    batch. The graded plan is the memory-sink scan + a keys-sized
    aggregate."""
    from rustic_witcher_spark.streaming.stateful import running_user_totals

    ev = read_events(spark, sf_dir).select("event_id", "user_id", "value").filter(
        F.col("user_id").isNotNull() & F.col("event_id").isNotNull()
    )
    cut = ev.selectExpr("percentile(event_id, 0.5) AS c").first()["c"]
    work = _fresh_workdir("totals_inc")
    stream = _ordered_stream(
        spark, [ev.filter(F.col("event_id") <= F.lit(cut)), ev.filter(F.col("event_id") > F.lit(cut))], work
    )
    return (
        _run_to_memory(spark, running_user_totals(stream), "rw_totals_inc_result", work, "update")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
        .orderBy("user_id")
    )


def sql_stateful_totals_incremental() -> str:
    """Twin: the final running state per key == the whole-log batch
    aggregate (the operator's running ≡ final contract)."""
    return """
SELECT user_id, count(*)::BIGINT AS n_events,
       round(sum(coalesce(value, 0)), 4) AS total_value
FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
GROUP BY user_id ORDER BY user_id
"""


def q_dedup_exact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup under the driver gate: the REAL
    `streaming.dedup.streaming_exact_dedup` (dropDuplicates on the
    md5-of-normalized-text digest over an actual Structured Streaming
    query) applied to the corpus as two ordered micro-batches (the
    dedup_incremental standing/batch split, doc_id % 10, replayed via
    _ordered_stream_source + availableNow + memory sink).

    Output is digest-LEVEL on purpose: within a micro-batch,
    dropDuplicates keeps an arbitrary row per digest, so row-level
    output would be nondeterministic — but every within-batch
    candidate shares the digest AND the batch tag, so (digest,
    first_part) is exact: a digest's surviving row always comes from
    the first batch that contained it (first-seen-wins across
    batches, the module's whole claim). The twin groups by the same
    md5 digest and takes min(part). NULL-text docs keep their NULL
    digest as one group on both engines.

    Scale: the dedup state is one entry per distinct digest —
    unbounded on a forever-stream, which is why the module's
    production form takes a watermark (dropDuplicatesWithinWatermark,
    streaming/dedup.py:27-41); the gate grades the exact finite-backfill
    form. The graded plan is the memory-sink scan + a projection."""
    from rustic_witcher_spark.streaming.dedup import streaming_exact_dedup

    d = _read(spark, sf_dir, "documents")
    p0 = d.filter((F.col("doc_id") % 10) < 8).select("text", F.lit(0).alias("part"))
    p1 = d.filter((F.col("doc_id") % 10) >= 8).select("text", F.lit(1).alias("part"))
    work = _fresh_workdir("dedup_inc_stream")
    survivors = streaming_exact_dedup(_ordered_stream(spark, [p0, p1], work), text_col="text")
    return (
        _run_to_memory(spark, survivors, "rw_dedup_inc_stream_result", work, "append")
        .select(dedup.text_digest(F.col("text")).alias("digest"), F.col("part").alias("first_part"))
        .orderBy("digest", "first_part")
    )


def sql_dedup_exact_incremental() -> str:
    """Twin of the two-batch stream: a digest's survivor comes from the
    first batch containing it (first-seen-wins)."""
    return f"""
SELECT {_SQL_DIGEST} AS digest,
       min(CASE WHEN doc_id % 10 < 8 THEN 0 ELSE 1 END) AS first_part
FROM documents
GROUP BY 1 ORDER BY digest, first_part
"""


def q_ingest_health_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-health monitor under the driver gate: the REAL
    `streaming.ingest_health` pair (read_jsonl_stream → ingest_health)
    over a continuously-landing JSONL corpus — the malformed-line-rate
    watch every streaming text-ingest pipeline runs. The corpus is
    serialized to JSON lines (to_json — escaping makes one line per
    doc regardless of control chars in text), every doc_id%7==0 line
    deterministically corrupted (truncated mid-object — guaranteed
    parse failure in PERMISSIVE mode), split into two ordered files,
    and streamed with maxFilesPerTrigger=1 into the complete-mode
    four-counter aggregate; the memory sink's final row is the graded
    result.

    The counters are GLOBAL mergeable counts, so unlike the
    quota/totals entries the result is batch-ORDER-invariant — the
    strongest form of the module's constant-state claim (state is four
    longs regardless of stream length). fully_parsed counts rows where
    every real field is non-null, so docs with NULL text/lang/source
    are clean-but-partial — the gap between parsed_key_rows and
    fully_parsed_rows is the partially-coerced signal the module's
    docstring names. The twin computes all four counts from the
    source table arithmetically (to_json omits null fields; a clean
    line's parse nullness equals the table's)."""
    from rustic_witcher_spark.streaming.ingest_health import ingest_health, read_jsonl_stream

    d = _read(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source", "n_chars")
    payload = F.to_json(F.struct("doc_id", "text", "lang", "source", "n_chars"))
    line = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string"), F.lit(", broken")),
    ).otherwise(payload)
    lines = d.select(line.alias("value"))
    work = _fresh_workdir("ingest_inc")
    src = _ordered_stream_source(
        spark,
        [lines.filter((F.col("doc_id") % 10) < 8), lines.filter((F.col("doc_id") % 10) >= 8)],
        work,
        fmt="text",
    )
    stream = read_jsonl_stream(
        spark,
        src,
        "doc_id long, text string, lang string, source string, n_chars long",
        max_files_per_trigger=1,
    )
    return _run_to_memory(spark, ingest_health(stream), "rw_ingest_inc_result", work, "complete").select(
        "clean_rows", "corrupt_rows", "parsed_key_rows", "fully_parsed_rows"
    )


def sql_ingest_health_incremental() -> str:
    """Twin: the four counters from source-table arithmetic — a line is
    corrupt iff doc_id%7==0; a clean line's field nullness equals the
    table's (to_json omits null fields, PERMISSIVE re-nulls them)."""
    return """
SELECT sum(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END)::BIGINT AS clean_rows,
       sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)::BIGINT AS corrupt_rows,
       sum(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END)::BIGINT AS parsed_key_rows,
       sum(CASE WHEN doc_id % 7 <> 0 AND text IS NOT NULL AND lang IS NOT NULL
                 AND source IS NOT NULL AND n_chars IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS fully_parsed_rows
FROM documents
"""


def q_shard_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming shard appender under the driver gate — the last index
    module that held only pytest pins: two corpus micro-batches (the
    standing/batch split) routed through the REAL
    `streaming.shard_stream.shard_append_batch` (the callable
    `write_shards_stream` registers) into a fresh `shard=N/` layout,
    then audited with the batch sink's own
    `sinks.shards.verify_training_shards` (digest recompute over the
    re-read — the entry RAISES on any mismatch, so a green verdict
    covers the append AND the audit), and the merged manifest is the
    graded result: (shard, n_rows, digest).

    Determinism is algebraic, not ordering-based: shard assignment is
    a pure row hash and the manifest digest is a per-shard modular SUM
    of 60-bit row hashes (commutative merge), so ANY batch cut —
    indeed any ORDER — yields the same manifest, which is the module's
    whole 100 TB claim (O(|shards|) driver arithmetic per micro-batch,
    never a corpus re-scan). The twin recomputes the same hash64
    expressions and modular sums straight off the table."""
    from rustic_witcher_spark.sinks.shards import MANIFEST_NAME, verify_training_shards
    from rustic_witcher_spark.streaming.shard_stream import shard_append_batch

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    path = os.path.join(_fresh_workdir("shard_inc"), "shards")
    shard_append_batch(d.filter((F.col("doc_id") % 10) < 8), 0, "doc_id", 8, path, seed=SEED)
    shard_append_batch(d.filter((F.col("doc_id") % 10) >= 8), 1, "doc_id", 8, path, seed=SEED)
    problems = verify_training_shards(spark, path)
    if problems:
        raise AssertionError(f"shard audit failed after streaming appends: {problems}")
    with open(os.path.join(path, MANIFEST_NAME)) as fh:
        manifest = json.load(fh)
    rows = [
        (int(k), int(v["n_rows"]), int(v["digest"]))
        for k, v in manifest["shards"].items()
    ]
    return spark.createDataFrame(rows, "shard long, n_rows long, digest long").orderBy("shard")


def sql_shard_incremental() -> str:
    """Twin: the manifest is pure hash arithmetic over the table —
    per-shard row counts and the M61 modular sum of row digests."""
    m61 = (1 << 61) - 1
    shard = f"({sql_hash64('doc_id', SEED, 'shard')}) % 8"
    dig = f"({sql_hash64('doc_id', SEED, 'shard-digest')}) % {m61}"
    return f"""
SELECT shard, count(*)::BIGINT AS n_rows,
       (sum(h::HUGEINT) % {m61})::BIGINT AS digest
FROM (SELECT {shard} AS shard, {dig} AS h FROM documents)
GROUP BY 1 ORDER BY 1
"""


_HOUR_US = 3_600_000_000


def q_attribution_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked STREAM-STREAM interval join under the driver
    gate — the last streaming behavior class (join state + watermark
    eviction) without an end-to-end verdict. Runs the REAL
    `streaming.joins.attribution_join` (leftOuter: matched pairs AND
    the exactly-once late emission of never-converted clicks) as an
    actual Structured Streaming query: clicks and purchases land as
    two file-source streams of ordered micro-batches
    (_ordered_stream_source, maxFilesPerTrigger=1, availableNow,
    append-mode memory sink).

    Batch plan: b0/b1 split both sides at the GLOBAL median event
    time, so no row is ever late against the min-of-sources watermark
    (b1 rows all exceed b0's max-minus-delay). Two sentinel rows
    (user_id = -1) do the eviction choreography: one rides b1 at event
    time max+4h to drive the watermark past every real click's
    interval end, and b2 is a second sentinel at max+5h — it exists
    because eviction applies the watermark computed AFTER the previous
    batch, so unmatched clicks surface as NULL-padded rows during b2.
    (Merging the first sentinel into b1 instead of giving it its own
    batch saves a trigger and a staged write per source: measured
    5.6 → 3.5 s at sf0.1, identical output.) Sentinels themselves stay
    in state (their own eviction horizon is never reached) and are
    filtered from the result; real user_ids are non-negative.
    Determinism: inner matches are emitted exactly once as found;
    unmatched clicks exactly once on eviction — the output SET equals
    the batch left-outer interval join regardless of the cut (the
    module's stream ≡ batch contract, fuzz-pinned).

    Scale: join state per key is bounded by (watermark delay + join
    interval) x arrival rate — independent of stream lifetime; the
    join is a hash join on user_id with the time bound as a residual
    condition. The two driver scalars (median + max event time) are
    ONE bounded aggregate row. State partitions pinned at 4 (not the
    pair's 8): the join is JVM-side, so fewer partitions only cut the
    4-stores-per-partition commit overhead — measured faster at this
    state size, and on a real cluster the pin scales with cores."""
    from rustic_witcher_spark.streaming.joins import attribution_join

    ev = read_events(spark, sf_dir).filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    cp = ev.filter(F.col("event_type").isin("click", "purchase"))
    b = cp.agg(
        F.expr("percentile(unix_micros(ts), 0.5)").alias("cut"),
        F.max(F.unix_micros(F.col("ts"))).alias("mx"),
    ).first()
    cut = b["cut"] if b["cut"] is not None else 0.0
    mx = b["mx"] if b["mx"] is not None else 0
    s1, s2 = mx + 4 * _HOUR_US, mx + 5 * _HOUR_US

    def _sentinel(us: int, ts_name: str) -> DataFrame:
        return spark.range(1).select(
            F.lit(-1).cast("long").alias("user_id"),
            F.timestamp_micros(F.lit(int(us))).alias(ts_name),
        )

    def _parts(side: DataFrame, ts_name: str) -> list[DataFrame]:
        t = F.unix_micros(F.col(ts_name))
        return [
            side.filter(t <= F.lit(cut)),
            side.filter(t > F.lit(cut)).unionByName(_sentinel(s1, ts_name)),
            _sentinel(s2, ts_name),
        ]

    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    work = _fresh_workdir("attrib_inc")
    cs = _ordered_stream(spark, _parts(c, "click_ts"), os.path.join(work, "c"))
    ps = _ordered_stream(spark, _parts(p, "purchase_ts"), os.path.join(work, "p"))
    joined = attribution_join(cs, ps, within="1 hour", watermark_delay="2 hours", how="leftOuter")
    return (
        _run_to_memory(spark, joined, "rw_attrib_inc_result", work, "append", partitions=4)
        .filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            _fmt(F.col("click_ts")).alias("click_at"),
            _fmt(F.col("purchase_ts")).alias("purchase_at"),
            "lag_seconds",
        )
        .orderBy(
            F.col("user_id").asc(),
            F.col("click_at").asc(),
            F.col("purchase_at").asc_nulls_last(),
        )
    )


def sql_attribution_incremental() -> str:
    """Twin: the batch left-outer interval join — every (click,
    purchase) pair within 1h, plus never-converted clicks NULL-padded
    (the watermark-evicted late emissions). DuckDB ASC defaults to
    NULLS LAST, matching the Spark side's asc_nulls_last pin."""
    return """
SELECT c.user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_at,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_at,
       floor(epoch(p.ts))::BIGINT - floor(epoch(c.ts))::BIGINT AS lag_seconds
FROM (SELECT user_id, ts FROM events
      WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL) c
LEFT JOIN (SELECT user_id, ts FROM events
           WHERE event_type = 'purchase' AND ts IS NOT NULL AND user_id IS NOT NULL) p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
ORDER BY 1, 2, 3
"""


def q_drift_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift monitor's complete-mode stateful aggregation under the
    driver gate: `streaming.drift.term_counts` runs as an actual
    Structured Streaming query (the live corpus as two ordered
    micro-batches, complete-mode memory sink = the state table), and
    the batch-side `kl_vs_reference` finalizer — the exact function the
    batch entry uses — reads that state to produce the KL row. This is
    `start_drift_monitor`'s production shape (streaming/drift.py:97)
    driven to completion, putting the module's one stateful aggregation
    itself (per-term counts merged by addition across batches) under
    the oracle gate; drift_vs_reference graded only the finalizer over
    a batch-computed count table.

    Determinism: counts are additive and the final state is
    batch-ORDER-invariant, so the twin is the batch KL entry verbatim.
    The doc_id median cut is ONE bounded driver double; NULL doc_ids
    route to b0 via coalesce so the split is a partition.

    Scale: state is O(|vocab|) longs regardless of stream length; the
    finalizer joins a broadcast top-K reference against the
    vocabulary-sized state table."""
    d = _read(spark, sf_dir, "documents")
    ref = (
        drift.term_counts(d.filter(F.col("source") == DRIFT_REF_SOURCE))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(DRIFT_REF_VOCAB)
    )
    live = d.filter(F.col("source") != DRIFT_REF_SOURCE)
    cut = live.agg(F.expr("percentile(doc_id, 0.5)").alias("c")).first()["c"]
    cut = cut if cut is not None else 0.0
    key = F.coalesce(F.col("doc_id"), F.lit(-1))
    work = _fresh_workdir("drift_inc")
    stream = _ordered_stream(
        spark, [live.filter(key <= F.lit(cut)).select("text"), live.filter(key > F.lit(cut)).select("text")], work
    )
    state = _run_to_memory(spark, drift.term_counts(stream), "rw_drift_inc_state", work, "complete")
    return drift.kl_vs_reference(state, ref)


def q_histogram_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-histogram stream under the driver gate:
    `streaming.windows.value_histogram` — the module's whole claim is
    that its fixed integer log2 buckets make the counts ALGEBRAICALLY
    mergeable across micro-batches — runs as an actual complete-mode
    Structured Streaming aggregation over two ordered micro-batches of
    the events table, and the shared `_histogram_finalize` (the exact
    code the batch latency_histogram entry runs) turns the final state
    table into the share/CDF result. Twin: the batch histogram SQL
    verbatim — additive counts make the final state equal the batch
    aggregate whatever the cut (fuzz-pinned).

    Scale: state is #types x #buckets longs; the finalizer windows run
    over that tiny table, never the data."""
    ev = read_events(spark, sf_dir).select("event_id", "event_type", "value")
    key = F.coalesce(F.col("event_id"), F.lit(-1))
    work = _fresh_workdir("hist_inc")
    stream = _ordered_stream(
        spark,
        [ev.filter(key % 2 == 0).select("event_type", "value"), ev.filter(key % 2 != 0).select("event_type", "value")],
        work,
    )
    hist = windows.value_histogram(stream, "value", keys=["event_type"])
    return _histogram_finalize(_run_to_memory(spark, hist, "rw_hist_inc_state", work, "complete"))


K_ANON_K = 10  # the audit threshold: every QI group must hold ≥ K records


def q_k_anonymity_lattice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit across the generalization
    lattice — the VERIFICATION face of the reference's anonymization
    domain (the reference ships anonymized tables,
    anonymization_dataframe_operator.rs; this entry is the audit a
    privacy review runs on the output: does any quasi-identifier
    combination isolate fewer than K people?).

    One ROLLUP pass computes the whole generalization hierarchy —
    level 0 = (nation, segment, acctbal-bucket), each higher level
    drops the finest QI — and a second aggregate over the
    group-cardinality-sized result reports, per level: group count,
    smallest group (min k), violating groups (< K), records at risk,
    and the minimum l-diversity (distinct sensitive values per group,
    sensitive = the exact account balance). The decision this feeds:
    the lowest level whose violating_groups is 0 is the minimal
    generalization safe to release.

    Levels are identified by grouping() flags, NOT by key nullness —
    a data-NULL nationkey group at level 0 must not collide with the
    level-2 subtotal row (the classic rollup audit bug; dirty fuzz
    pins it). Scale: the rollup is one map-combinable shuffle over the
    data (partial aggregation applies to rollup in Spark); everything
    after runs on ≤ Σ|level group| rows — QI-cardinality, not
    data-sized. The same shape audits a billion-row table."""
    c = _read(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("qi_nation"),
        F.col("c_mktsegment").alias("qi_segment"),
        F.floor(F.col("c_acctbal") / 1000).alias("qi_bal"),
        "c_acctbal",
    )
    g = (
        c.rollup("qi_nation", "qi_segment", "qi_bal")
        .agg(
            (
                F.grouping("qi_nation") + F.grouping("qi_segment") + F.grouping("qi_bal")
            ).cast("long").alias("level"),
            F.count(F.lit(1)).alias("k"),
            F.countDistinct("c_acctbal").alias("l"),
        )
    )
    return (
        g.groupBy("level")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.min("k").alias("min_group_size"),
            F.sum(F.when(F.col("k") < K_ANON_K, 1).otherwise(0)).cast("long").alias("violating_groups"),
            F.sum(F.when(F.col("k") < K_ANON_K, F.col("k")).otherwise(0)).cast("long").alias("records_at_risk"),
            F.min("l").alias("min_l_diversity"),
        )
        .orderBy("level")
    )


def sql_k_anonymity_lattice() -> str:
    """Twin: the identical ROLLUP + level finalization. GROUPING()
    flags (not key nullness) identify the level on both engines;
    BIGINT casts pin the HUGEINT-sum dtype trap."""
    return f"""
WITH q AS (
  SELECT c_nationkey AS qi_nation, c_mktsegment AS qi_segment,
         floor(c_acctbal / 1000) AS qi_bal, c_acctbal
  FROM customer
),
g AS (
  SELECT (GROUPING(qi_nation) + GROUPING(qi_segment) + GROUPING(qi_bal))::BIGINT AS level,
         count(*)::BIGINT AS k, count(DISTINCT c_acctbal)::BIGINT AS l
  FROM q GROUP BY ROLLUP (qi_nation, qi_segment, qi_bal)
)
SELECT level, count(*)::BIGINT AS n_groups, min(k) AS min_group_size,
       sum(CASE WHEN k < {K_ANON_K} THEN 1 ELSE 0 END)::BIGINT AS violating_groups,
       sum(CASE WHEN k < {K_ANON_K} THEN k ELSE 0 END)::BIGINT AS records_at_risk,
       min(l) AS min_l_diversity
FROM g GROUP BY level ORDER BY level
"""


def q_join_skew_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnostic — the probe you run BEFORE committing a
    100 TB join to pick its strategy (broadcast / salt / AQE skew
    hints): for the attribution join's key (user_id, clicks x
    purchases), the top-10 hottest keys by output inflation, each with
    both sides' row counts, the pair count the join would emit for
    that key, and its share of the TOTAL join output in exact integer
    parts-per-million (floor division — no cross-engine float-sum
    trap).

    This never executes the join being probed: two map-combinable
    per-key counts, an inner join of two key-cardinality-sized count
    tables, one broadcast total, and a TakeOrdered top-10 (no global
    sort). At 100 TB the count tables are |keys| rows — the probe
    costs two scans regardless of how pathological the join output
    would be, which is exactly when you need it. NULL keys drop (an
    equi join emits nothing for them). Deterministic: ties break on
    user_id ascending."""
    ev = read_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    sides = [
        ev.filter(F.col("event_type") == etype)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias(alias))
        for etype, alias in (("click", "n_clicks"), ("purchase", "n_purchases"))
    ]
    pairs = (
        sides[0]
        .join(sides[1], "user_id")
        .select("user_id", "n_clicks", "n_purchases", (F.col("n_clicks") * F.col("n_purchases")).alias("pairs"))
    )
    total = pairs.agg(F.sum("pairs").alias("__total"))
    return (
        pairs.crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "n_clicks",
            "n_purchases",
            "pairs",
            F.floor(F.lit(1_000_000) * F.col("pairs") / F.col("__total")).alias("ppm_of_join"),
        )
        .orderBy(F.desc("pairs"), F.asc("user_id"))
        .limit(10)
    )


def sql_join_skew_probe() -> str:
    return """
WITH c AS (SELECT user_id, count(*)::BIGINT AS n_clicks FROM events
           WHERE event_type = 'click' AND user_id IS NOT NULL GROUP BY 1),
p AS (SELECT user_id, count(*)::BIGINT AS n_purchases FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL GROUP BY 1),
j AS (SELECT c.user_id, n_clicks, n_purchases,
             (n_clicks * n_purchases)::BIGINT AS pairs
      FROM c JOIN p USING (user_id)),
t AS (SELECT sum(pairs)::BIGINT AS total FROM j)
SELECT user_id, n_clicks, n_purchases, pairs,
       floor(1000000 * pairs / total)::BIGINT AS ppm_of_join
FROM j CROSS JOIN t
ORDER BY pairs DESC, user_id ASC
LIMIT 10
"""


BASKET_MIN_PAIR = 2  # a-priori floor: a pair seen once is noise, not a rule
BASKET_TOP_K = 30


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: for brand
    pairs bought together (basket = order, item = part brand), emit
    both directed rules antecedent→consequent with exact-integer
    support / confidence / lift in parts-per-million, top-30 by lift —
    the co-purchase affinity query behind "customers who buy X also
    buy Y" and behind source-mixing decisions in a curation pipeline
    (which data sources co-occur in the same crawl snapshot).

    Shape, and why it survives 100 TB: items roll up to the BRAND
    alphabet (bounded, ~25 values), so each basket's brand set is a
    bounded array — collect_set builds them in ONE map-combinable
    shuffle (no sorted self-join on the fact table; the classic
    basket self-join costs two sorted O(rows) shuffles, this costs
    one unsorted), and pair generation is a pure projection over the
    set (≤ C(|alphabet|, 2) pairs per basket). The pair/item count
    tables are alphabet-sized; the brand lookup is a dimension join
    Catalyst broadcasts; the rule finalization joins two tiny
    broadcast count tables plus one broadcast scalar (basket total).
    All ratios are floor(1e6·x) integer ppm — no cross-engine
    float-sum trap. Ordering is total (lift, confidence, antecedent,
    consequent), so top-30 is deterministic. The a-priori floor
    (pair count ≥ 2) prunes the singleton-pair tail before the rule
    join — at scale that floor is what keeps the candidate set
    alphabet-shaped even when the alphabet grows."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = _read(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # per-basket distinct brand sets: collect_set dedups AND drops NULL
    # brands; a basket whose only brands are NULL keeps its (empty-set)
    # row, so the basket total matches count(DISTINCT basket) exactly
    sets = (
        li.join(pt, li["l_partkey"] == pt["p_partkey"])
        .groupBy(F.col("l_orderkey").alias("basket"))
        .agg(F.collect_set("p_brand").alias("items"))
    )
    item_counts = (
        sets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    pairs = (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(items, x ->"
                    " transform(filter(items, y -> y > x), y ->"
                    " struct(x AS item_a, y AS item_b))))"
                )
            ).alias("pr")
        )
        .groupBy("pr.item_a", "pr.item_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_PAIR)
    )
    # both directed rules from ONE pass over the pair counts: a union
    # of two selects re-executes the whole pair pipeline per branch —
    # the explode emits both directions as a projection, so the
    # expensive subplan runs once
    rules = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("antecedent"),
                    F.col("item_b").alias("consequent"),
                    F.col("n_ab"),
                ),
                F.struct(
                    F.col("item_b").alias("antecedent"),
                    F.col("item_a").alias("consequent"),
                    F.col("n_ab"),
                ),
            )
        ).alias("r")
    ).select("r.antecedent", "r.consequent", "r.n_ab")
    total = sets.agg(F.count(F.lit(1)).alias("__n_baskets"))
    return (
        rules.join(
            F.broadcast(item_counts.select(F.col("item").alias("antecedent"), F.col("n_item").alias("n_ant"))),
            "antecedent",
        )
        .join(
            F.broadcast(item_counts.select(F.col("item").alias("consequent"), F.col("n_item").alias("n_con"))),
            "consequent",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            "n_ant",
            "n_con",
            F.floor(F.lit(1_000_000) * F.col("n_ab") / F.col("__n_baskets")).alias("support_ppm"),
            F.floor(F.lit(1_000_000) * F.col("n_ab") / F.col("n_ant")).alias("confidence_ppm"),
            F.floor(
                F.lit(1_000_000) * F.col("n_ab") * F.col("__n_baskets")
                / (F.col("n_ant") * F.col("n_con"))
            ).alias("lift_ppm"),
        )
        .orderBy(
            F.desc("lift_ppm"), F.desc("confidence_ppm"), F.asc("antecedent"), F.asc("consequent")
        )
        .limit(BASKET_TOP_K)
    )


def sql_basket_rules() -> str:
    """Twin: identical basket → pair-count → directed-rule pipeline;
    BIGINT casts on every count and floor() ppm keep dtypes and
    rounding engine-identical."""
    return f"""
WITH b AS (
  SELECT DISTINCT l_orderkey AS basket, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
ic AS (SELECT item, count(*)::BIGINT AS n_item FROM b GROUP BY item),
pr AS (
  SELECT x.item AS item_a, y.item AS item_b, count(*)::BIGINT AS n_ab
  FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
  GROUP BY x.item, y.item
  HAVING count(*) >= {BASKET_MIN_PAIR}
),
r AS (
  SELECT item_a AS antecedent, item_b AS consequent, n_ab FROM pr
  UNION ALL
  SELECT item_b AS antecedent, item_a AS consequent, n_ab FROM pr
),
t AS (SELECT count(DISTINCT basket)::BIGINT AS n_baskets FROM b)
SELECT antecedent, consequent, n_ab,
       a.n_item AS n_ant, c.n_item AS n_con,
       floor(1000000 * n_ab / n_baskets)::BIGINT AS support_ppm,
       floor(1000000 * n_ab / a.n_item)::BIGINT AS confidence_ppm,
       floor(1000000 * n_ab * n_baskets / (a.n_item * c.n_item))::BIGINT AS lift_ppm
FROM r
JOIN ic a ON r.antecedent = a.item
JOIN ic c ON r.consequent = c.item
CROSS JOIN t
ORDER BY lift_ppm DESC, confidence_ppm DESC, antecedent ASC, consequent ASC
LIMIT {BASKET_TOP_K}
"""


# Candidate functional dependencies the audit checks: (id, table,
# determinant SQL expr, dependent SQL expr). Mix of FDs that HOLD in
# the synthetic tables by construction (c_name is unique so it
# determines everything; a primary key trivially does) and
# plausible-but-false ones — the audit must prove both directions,
# not just confirm priors.
FD_CANDIDATES: list[tuple[str, str, str, str]] = [
    ("customer.c_name->c_nationkey", "customer", "c_name", "c_nationkey"),
    ("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
    ("documents.lang->source", "documents", "lang", "source"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
    ("part.p_brand->p_type", "part", "p_brand", "p_type"),
    ("part.p_partkey->p_brand", "part", "p_partkey", "p_brand"),
]


def q_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit — the schema-inference /
    data-quality profiling pass that answers "does column A determine
    column B?" for a candidate list, with exact violation counts: per
    candidate FD, the number of distinct determinant values, how many
    of them map to >1 distinct dependent value, the worst fan-out, a
    ppm violation rate, and a 0/1 holds flag. On the synthetic tables
    it must both CONFIRM the constructed dependencies (the unique
    c_name determines nationkey; a primary key determines any column)
    and REFUTE the plausible-but-false ones (brand does not fix type;
    a customer does not keep one order priority).

    Each candidate is one map-combinable two-phase aggregate:
    groupBy(determinant) → countDistinct(dependent) (partial aggs
    combine map-side), then a finalize over the |distinct determinant|
    row result — determinant-cardinality-sized, not data-sized. The
    scan for each FD reads exactly its two columns (column-pruned
    parquet). NULL dependents are ignored by countDistinct on both
    engines; NULL determinants group as their own key on both. At 100
    TB you'd batch the candidates per table so one scan feeds all that
    table's FDs — here each candidate stays a separate tiny job so the
    per-FD plan is the one Catalyst prunes best; the union glues six
    single-row aggregates."""
    per_fd = []
    for fd_id, table, det, dep in FD_CANDIDATES:
        g = (
            _read(spark, sf_dir, table)
            .select(F.expr(det).alias("k"), F.expr(dep).alias("v"))
            .groupBy("k")
            .agg(F.countDistinct("v").alias("nd"))
        )
        per_fd.append(
            g.agg(
                F.lit(fd_id).alias("fd"),
                F.count(F.lit(1)).alias("n_keys"),
                F.coalesce(
                    F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)), F.lit(0)
                ).cast("long").alias("violating_keys"),
                F.max("nd").alias("max_dependents"),
            )
        )
    out = per_fd[0]
    for df in per_fd[1:]:
        out = out.unionByName(df)
    return out.select(
        "fd",
        "n_keys",
        "violating_keys",
        "max_dependents",
        F.when(
            F.col("n_keys") > 0,
            F.floor(F.lit(1_000_000) * F.col("violating_keys") / F.col("n_keys")),
        ).alias("violation_ppm"),
        F.when(F.col("violating_keys") == 0, 1).otherwise(0).cast("long").alias("holds"),
    ).orderBy("fd")


def sql_fd_audit() -> str:
    """Twin: one grouped-countDistinct + finalize block per candidate,
    UNION ALL'd; CASE-guarded ppm so an empty table NULLs the rate on
    both engines instead of dividing by zero."""
    blocks = []
    for fd_id, table, det, dep in FD_CANDIDATES:
        blocks.append(
            f"""
SELECT '{fd_id}' AS fd, count(*)::BIGINT AS n_keys,
       coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0)::BIGINT AS violating_keys,
       max(nd) AS max_dependents,
       CASE WHEN count(*) > 0
            THEN floor(1000000 * coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) / count(*))::BIGINT
       END AS violation_ppm,
       (CASE WHEN coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) = 0 THEN 1 ELSE 0 END)::BIGINT AS holds
FROM (SELECT {det} AS k, count(DISTINCT {dep})::BIGINT AS nd FROM {table} GROUP BY 1)"""
        )
    return "SELECT * FROM (" + "\nUNION ALL\n".join(blocks) + "\n) ORDER BY fd"


AB_T_CRIT = 1.96  # two-sided 5% normal critical value


def q_ab_test_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-metric A/B experiment readout — Welch's t-test over a
    deterministic hash split: users are assigned by parity (variant A
    = even user_id), and for each event_type the entry reports both
    arms' sizes and means, the Welch t statistic, and a 0/1
    significance flag at the two-sided 5% level.

    Cross-engine exactness is the design center (the class the r12
    fuzz exposed): every aggregate is an EXACT integer sum — counts,
    cent sums, squared-cent sums — so the shuffled partial aggregation
    is order-invariant, and all floating-point arithmetic happens
    AFTER aggregation on bit-identical operands with the expression
    tree mirrored token-for-token in the DuckDB twin. One
    map-combinable shuffle keyed by event_type computes all six sums
    (conditional aggregation, not a pivot join); the finalize runs on
    |event types| rows. Degenerate arms guard to NULL: a variant with
    n ≤ 1 has no sample variance, a zero standard error has no t, and
    the significance flag stays NULL when t is undefined."""
    ev = (
        read_events(spark, sf_dir)
        .filter(
            F.col("user_id").isNotNull()
            & F.col("value").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "event_type",
            (F.abs(F.col("user_id")) % 2).alias("variant"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    g = ev.groupBy("event_type").agg(
        *[
            F.sum(F.when(F.col("variant") == v, expr).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"{name}_{arm}")
            for v, arm in ((0, "a"), (1, "b"))
            for name, expr in (
                ("n", F.lit(1)),
                ("sc", F.col("cents")),
                ("sq", F.col("cents") * F.col("cents")),
            )
        ]
    )
    mean = {a: F.col(f"sc_{a}") / (F.lit(100.0) * F.col(f"n_{a}")) for a in "ab"}
    var = {
        a: (
            F.col(f"sq_{a}") / F.lit(10000.0)
            - (F.col(f"sc_{a}") / F.lit(100.0)) * (F.col(f"sc_{a}") / F.lit(100.0)) / F.col(f"n_{a}")
        )
        / (F.col(f"n_{a}") - F.lit(1))
        for a in "ab"
    }
    se2 = (
        F.when(F.col("n_a") > 1, var["a"]).otherwise(F.lit(None)) / F.col("n_a")
        + F.when(F.col("n_b") > 1, var["b"]).otherwise(F.lit(None)) / F.col("n_b")
    )
    t = F.when(se2 > 0, (mean["a"] - mean["b"]) / F.sqrt(se2))
    # displayed means round in INTEGER arithmetic — (2·p·10^s + q) div
    # (2·q) at scale 6 — because an engine round() on an exactly-half
    # mean (cents/(100n), n a power of two) is implementation-defined
    # across engines (the lineitem_unpivot soak finding); the t-stat's
    # round(4) is safe (irrational sqrt denominators never land on a
    # rounding boundary)
    disp = {
        a: F.when(
            F.col(f"n_{a}") > 0,
            F.expr(f"(2 * sc_{a} * 10000 + n_{a}) div (2 * n_{a})") / F.lit(1000000.0),
        )
        for a in "ab"
    }
    return g.select(
        "event_type",
        "n_a",
        "n_b",
        disp["a"].alias("mean_a"),
        disp["b"].alias("mean_b"),
        F.round(t, 4).alias("t_stat"),
        F.when(F.abs(t) > AB_T_CRIT, 1).when(t.isNotNull(), 0).cast("long").alias("significant"),
    ).orderBy("event_type")


def sql_ab_test_summary() -> str:
    """Twin: identical exact-integer sums and a token-for-token mirror
    of the floating-point finalize, so both engines round the
    bit-identical doubles."""
    arms = {
        a: dict(
            n=f"n_{a}",
            mean=f"(sc_{a} / (100.0 * n_{a}))",
            var=f"((sq_{a} / 10000.0 - (sc_{a} / 100.0) * (sc_{a} / 100.0) / n_{a}) / (n_{a} - 1))",
        )
        for a in "ab"
    }
    se2 = (
        f"((CASE WHEN n_a > 1 THEN {arms['a']['var']} END) / n_a"
        f" + (CASE WHEN n_b > 1 THEN {arms['b']['var']} END) / n_b)"
    )
    t = f"(CASE WHEN {se2} > 0 THEN ({arms['a']['mean']} - {arms['b']['mean']}) / sqrt({se2}) END)"
    return f"""
WITH g AS (
  SELECT event_type,
         sum(CASE WHEN abs(user_id) % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN abs(user_id) % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
         sum(CASE WHEN abs(user_id) % 2 = 0 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)::BIGINT AS sc_a,
         sum(CASE WHEN abs(user_id) % 2 = 1 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)::BIGINT AS sc_b,
         sum(CASE WHEN abs(user_id) % 2 = 0 THEN CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT) ELSE 0 END)::BIGINT AS sq_a,
         sum(CASE WHEN abs(user_id) % 2 = 1 THEN CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT) ELSE 0 END)::BIGINT AS sq_b
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY event_type
)
SELECT event_type, n_a, n_b,
       CASE WHEN n_a > 0 THEN ((2 * sc_a * 10000 + n_a) // (2 * n_a)) / 1000000.0 END AS mean_a,
       CASE WHEN n_b > 0 THEN ((2 * sc_b * 10000 + n_b) // (2 * n_b)) / 1000000.0 END AS mean_b,
       round({t}, 4) AS t_stat,
       (CASE WHEN abs({t}) > {AB_T_CRIT} THEN 1
             WHEN {t} IS NOT NULL THEN 0 END)::BIGINT AS significant
FROM g ORDER BY event_type
"""


# Hour index origin for the OLS trend: 2024-01-01 00:00 UTC in hours
# since the unix epoch (1704067200000 ms // 3600000). Anchoring near
# the data keeps x small so the exact integer moment sums stay far
# from BIGINT range.
TREND_EPOCH_HOURS = 473352


def q_value_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key linear trend via closed-form OLS — "is this metric
    drifting, and how fast?" for every event_type: regress value on
    the event's hour index and report slope (value units per hour),
    intercept at the 2024-01-01 origin, and R².

    Same exactness discipline as the A/B entry: the five moment sums
    (n, Σx, Σy, Σxy, Σx²) plus Σy² accumulate as EXACT integers (hour
    index by integer division of epoch-millis, value in cents), so
    partial-aggregation order cannot move a bit; the closed-form
    slope/intercept/R² arithmetic runs on the tiny per-key row with
    every operand cast to double BEFORE multiplication (n·Σxy
    overflows BIGINT at fact-table scale on both engines) and the
    expression tree mirrored exactly in the twin. One map-combinable
    shuffle, |event types| finalize rows, any data size. Degenerate
    keys guard to NULL: a single-hour key has no slope (den = 0), a
    constant-value key has no R² (zero total variance)."""
    ev = (
        read_events(spark, sf_dir)
        .filter(
            F.col("ts").isNotNull() & F.col("value").isNotNull() & F.col("event_type").isNotNull()
        )
        .select(
            "event_type",
            (F.expr("unix_millis(ts) div 3600000") - F.lit(TREND_EPOCH_HOURS)).alias("x"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("cents").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("cents")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("syy"),
    )
    d = {c: F.col(c).cast("double") for c in ("n", "sx", "sy", "sxy", "sxx", "syy")}
    num = d["n"] * d["sxy"] - d["sx"] * d["sy"]
    den = d["n"] * d["sxx"] - d["sx"] * d["sx"]
    tss = d["n"] * d["syy"] - d["sy"] * d["sy"]
    slope = F.when(den > 0, num / den / F.lit(100.0))
    intercept = F.when(
        den > 0,
        d["sy"] / (F.lit(100.0) * d["n"]) - num / den / F.lit(100.0) * (d["sx"] / d["n"]),
    )
    r2 = F.when((den > 0) & (tss > 0), num * num / (den * tss))
    return g.select(
        "event_type",
        "n",
        F.round(slope, 8).alias("slope_per_hour"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    ).orderBy("event_type")


def sql_value_trend_ols() -> str:
    num = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    den = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    tss = "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    return f"""
WITH pts AS (
  SELECT event_type,
         epoch_ms(ts) // 3600000 - {TREND_EPOCH_HOURS} AS x,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
),
g AS (
  SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
         sum(cents)::BIGINT AS sy, sum(x * cents)::BIGINT AS sxy,
         sum(x * x)::BIGINT AS sxx, sum(cents * cents)::BIGINT AS syy
  FROM pts GROUP BY event_type
)
SELECT event_type, n,
       round(CASE WHEN {den} > 0 THEN {num} / {den} / 100.0 END, 8) AS slope_per_hour,
       round(CASE WHEN {den} > 0
             THEN CAST(sy AS DOUBLE) / (100.0 * CAST(n AS DOUBLE)) - {num} / {den} / 100.0 * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) END, 6) AS intercept,
       round(CASE WHEN {den} > 0 AND {tss} > 0 THEN {num} * {num} / ({den} * {tss}) END, 6) AS r2
FROM g ORDER BY event_type
"""


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve: cumulative distinct token
    types vs cumulative token volume over the corpus in ingestion order
    (doc_id), at 10 checkpoints — the curve that sizes a tokenizer
    vocabulary and detects a crawl gone stale (type growth flattening
    while volume grows). Checkpoint assignment uses the decile-BOUNDS
    pattern (doc_length_deciles): the nine doc_id quantile boundaries
    are ONE scalar aggregate row broadcast to the scan — NOT an
    ntile(10) global-sort window, the classic single-partition
    scale-killer. Each token type contributes to the decile of its
    FIRST-owner doc (min doc_id — a vocabulary-sized map-combinable
    agg); the cumulative window then runs over exactly 10 rows."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    fracs = [i / 10 for i in range(1, 10)]
    # ONE bounded driver collect (9 quantile doubles — same budget class
    # as embedding_outliers' ≤8 centroid rows): embedding the boundaries
    # as literals makes decile assignment a pure projection in BOTH
    # consumers below; the broadcast-crossJoin form computed the
    # percentile subplan twice (no cross-branch reuse) and paid two
    # extra per-job floors — measured 2.7 s → ~1.3 s at sf0.1.
    bounds = d.agg(
        F.expr(
            "transform(percentile(doc_id, array({fs})), x -> round(x, 4))".format(
                fs=", ".join(str(f) for f in fracs)
            )
        ).alias("__bounds")
    ).collect()[0]["__bounds"]
    # empty corpus: percentile yields NULL — every downstream frame is
    # empty anyway, so any literal bounds array gives the same (empty)
    # result; [] keeps the lit() construction total
    bounds = bounds or []
    barr = (
        F.array(*[F.lit(float(b)) for b in bounds])
        if bounds
        else F.array().cast("array<double>")
    )
    decile_of = lambda c: 1 + F.aggregate(  # noqa: E731
        barr, F.lit(0), lambda acc, b: acc + F.when(c > b, 1).otherwise(0)
    )
    docs_d = d.select(
        "doc_id", text.token_count(F.col("text")).alias("__nt")
    ).withColumn("decile", decile_of(F.col("doc_id")))
    base = docs_d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("__nt").alias("n_tokens")
    )
    first = (
        d.select("doc_id", F.explode(F.array_distinct(text.tokens(F.col("text")))).alias("t"))
        .groupBy("t")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    newt = first.withColumn("decile", decile_of(F.col("first_doc"))).groupBy("decile").agg(
        F.count(F.lit(1)).alias("new_types")
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        base.join(newt, "decile", "left")
        .withColumn("new_types", F.coalesce(F.col("new_types"), F.lit(0)))
        .withColumn("cum_types", F.sum("new_types").over(wc))
        .withColumn("cum_tokens", F.sum("n_tokens").over(wc))
        .select(
            "decile",
            "n_docs",
            "n_tokens",
            "new_types",
            "cum_types",
            "cum_tokens",
            # try_divide: an all-empty corpus folds cum_tokens to 0 —
            # DuckDB yields NULL there, ANSI Spark would throw
            F.round(F.try_divide(F.col("cum_types"), F.col("cum_tokens")), 6).alias("type_token_ratio"),
        )
        .orderBy("decile")
    )


def sql_vocab_growth() -> str:
    toks = _toks_sql("text")
    return f"""
WITH b AS (
  SELECT list_transform(quantile_cont(doc_id, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                        x -> round(x, 4)) AS bounds
  FROM documents
),
docs_d AS (
  SELECT doc_id, len({toks}) AS nt,
         1 + len(list_filter(bounds, x -> doc_id > x)) AS decile
  FROM documents CROSS JOIN b
),
base AS (SELECT decile, count(*) AS n_docs, sum(nt)::BIGINT AS n_tokens FROM docs_d GROUP BY 1),
first AS (
  SELECT t, min(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest(list_distinct({toks})) AS t FROM documents)
  GROUP BY 1
),
newt AS (
  SELECT 1 + len(list_filter(bounds, x -> first_doc > x)) AS decile, count(*) AS new_types
  FROM first CROSS JOIN b GROUP BY 1
),
curve AS (
  SELECT base.decile, base.n_docs, base.n_tokens, coalesce(newt.new_types, 0) AS new_types
  FROM base LEFT JOIN newt USING (decile)
)
SELECT decile, n_docs, n_tokens, new_types,
       (sum(new_types) OVER w)::BIGINT AS cum_types,
       (sum(n_tokens) OVER w)::BIGINT AS cum_tokens,
       round(sum(new_types) OVER w / sum(n_tokens) OVER w, 6) AS type_token_ratio
FROM curve
WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
ORDER BY decile
"""


MAD_CONSISTENCY = 0.6745  # Φ⁻¹(3/4): scales MAD to σ under normality
MAD_TOP_N = 20


def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier scoring — the MAD (median absolute deviation)
    variant of `events_anomaly`'s mean/σ z-score: medians don't move
    when the outliers themselves inflate the baseline, which is
    exactly when a mean-based monitor goes blind (masking). Modified
    z = 0.6745·(x-med)/MAD (Iglewicz–Hoaglin); top-20 hourly volumes
    by |z|. Exact medians via interpolating percentile on BOTH
    engines (Spark `percentile`, DuckDB `quantile_cont` — same
    definition); at corpus scale swap for `approx_percentile` or the
    registry's mergeable log-bucket sketch, same plan shape. Two
    grouped medians = two shuffles over the pre-reduced hourly grain,
    never the raw events."""
    ev = _read(spark, sf_dir, "events").filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
    hourly = ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).alias("n")
    )
    med = hourly.groupBy("event_type").agg(F.percentile("n", 0.5).alias("med"))
    dev = hourly.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("n") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.percentile("absdev", 0.5).alias("mad"))
    z = F.round(F.lit(MAD_CONSISTENCY) * (F.col("n") - F.col("med")) / F.col("mad"), 6)
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("mad") > 0)
        .select(
            "event_type",
            F.date_format("hour", _FMT).alias("hour"),
            "n",
            z.alias("mad_z"),
        )
        .orderBy(F.abs(F.col("mad_z")).desc(), F.col("event_type").asc(), F.col("hour").asc())
        .limit(MAD_TOP_N)
    )


SQL_EVENTS_MAD_OUTLIERS = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2
),
med AS (SELECT event_type, quantile_cont(n, 0.5) AS med FROM hourly GROUP BY 1),
dev AS (
  SELECT h.event_type, h.hour, h.n, m.med, abs(h.n - m.med) AS absdev
  FROM hourly h JOIN med m USING (event_type)
),
mad AS (SELECT event_type, quantile_cont(absdev, 0.5) AS mad FROM dev GROUP BY 1)
SELECT d.event_type, {_fmt_sql('d.hour')} AS hour, d.n,
       round({MAD_CONSISTENCY} * (d.n - d.med) / md.mad, 6) AS mad_z
FROM dev d JOIN mad md USING (event_type)
WHERE md.mad > 0
ORDER BY abs(round({MAD_CONSISTENCY} * (d.n - d.med) / md.mad, 6)) DESC, d.event_type ASC, hour ASC
LIMIT {MAD_TOP_N}
"""


def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-UNION length per event type — the other half of the
    sweep-line family: `peak_concurrency` takes the max of the running
    open-count, this integrates the time where it is positive (total
    seconds covered by ≥1 of the 30-minute presence intervals,
    overlaps merged). Segment between consecutive edges counts iff the
    running sum after the left edge is > 0. Within equal (ts, delta)
    tie groups the permutation is arbitrary BUT coverage is invariant:
    intra-group segments have zero length and the group-exit running
    sum is permutation-independent — so the result is deterministic
    and oracle-exact without a full tie-break. Same 100 TB shape as
    peak_concurrency: few fat per-type partitions → time-bucketed
    two-level scan with per-bucket carry-in."""
    ev = _read(spark, sf_dir, "events").filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
    starts = ev.select("event_type", F.col("ts").alias("edge_ts"), F.lit(1).alias("delta"))
    ends = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("edge_ts"),
        F.lit(-1).alias("delta"),
    )
    w = Window.partitionBy("event_type").orderBy("edge_ts", "delta")
    run = (
        starts.unionByName(ends)
        .withColumn("open_after", F.sum("delta").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("next_ts", F.lead("edge_ts").over(w))
    )
    # exact microsecond arithmetic: unix_timestamp/epoch()::BIGINT
    # disagree on sub-second timestamps (Spark truncates, DuckDB
    # rounds) — unix_micros / epoch_us are integer-exact in both
    seg = F.when(
        (F.col("open_after") > 0) & F.col("next_ts").isNotNull(),
        F.unix_micros("next_ts") - F.unix_micros("edge_ts"),
    ).otherwise(F.lit(0))
    return (
        run.groupBy("event_type")
        .agg(
            F.sum(seg).alias("covered_us"),
            (F.count(F.lit(1)) / 2).cast("bigint").alias("n_intervals"),
        )
        .orderBy("event_type")
    )


SQL_INTERVAL_COVERAGE = """
WITH edges AS (
  SELECT event_type, ts AS edge_ts, 1 AS delta FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  UNION ALL
  SELECT event_type, ts + INTERVAL 30 MINUTE, -1 FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
run AS (
  SELECT event_type, edge_ts,
         sum(delta) OVER (PARTITION BY event_type ORDER BY edge_ts, delta
                          ROWS UNBOUNDED PRECEDING) AS open_after,
         lead(edge_ts) OVER (PARTITION BY event_type ORDER BY edge_ts, delta) AS next_ts
  FROM edges
)
SELECT event_type,
       sum(CASE WHEN open_after > 0 AND next_ts IS NOT NULL
                THEN epoch_us(next_ts) - epoch_us(edge_ts) ELSE 0 END)::BIGINT AS covered_us,
       (count(*) / 2)::BIGINT AS n_intervals
FROM run GROUP BY event_type ORDER BY event_type
"""


FUNNEL3_WINDOW_S = 3600


def q_funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-stage strict-order funnel (view → click → purchase, each
    within 1 h of the previous stage) — sequential depth beyond the
    two-step `funnel_click_purchase`. Stage N is a groupBy(user) min
    over events AFTER the user's stage-N-1 time: three aggregates and
    two joins, ALL keyed on user_id, so after the first exchange every
    stage reuses the same hash partitioning — the plan adds stages,
    not shuffle width. No per-user event collection, no self-join on
    the raw stream."""
    ev = _read(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + F.expr(f"INTERVAL {FUNNEL3_WINDOW_S} SECONDS")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + F.expr(f"INTERVAL {FUNNEL3_WINDOW_S} SECONDS")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        t1.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(F.broadcast(t2.agg(F.count(F.lit(1)).alias("n_click"))))
        .crossJoin(F.broadcast(t3.agg(F.count(F.lit(1)).alias("n_purchase"))))
    )
    return counts.select(
        "n_view",
        "n_click",
        "n_purchase",
        # try_divide: an empty funnel stage (n_view/n_click = 0) must yield
        # NULL like DuckDB's x/0, not an ANSI DIVIDE_BY_ZERO job kill.
        F.round(F.try_divide(F.col("n_click"), F.col("n_view")), 6).alias("view_to_click"),
        F.round(F.try_divide(F.col("n_purchase"), F.col("n_click")), 6).alias("click_to_purchase"),
    )


SQL_FUNNEL_3STEP = f"""
WITH t1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > t1.t1 AND e.ts <= t1.t1 + INTERVAL {FUNNEL3_WINDOW_S} SECOND
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 AND e.ts <= t2.t2 + INTERVAL {FUNNEL3_WINDOW_S} SECOND
  GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM t1)::BIGINT AS n_view,
       (SELECT count(*) FROM t2)::BIGINT AS n_click,
       (SELECT count(*) FROM t3)::BIGINT AS n_purchase,
       round((SELECT count(*) FROM t2) / (SELECT count(*) FROM t1), 6) AS view_to_click,
       round((SELECT count(*) FROM t3) / (SELECT count(*) FROM t2), 6) AS click_to_purchase
"""


HARDNEG_QUERIES = 20


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the
    single most-similar vector with a DIFFERENT label — the standard
    negative-selection step for embedding/retrieval training (the
    near-miss that teaches the margin).

    The REGISTERED path is the vectorized numpy block kernel
    (`similarity.hard_negative_top1_block`): the query block broadcasts
    once per executor and each Arrow batch reduces to one candidate row
    per query via a matmul + masked argmax, so the shuffle still carries
    |queries| rows per partition but the per-pair cosine is a BLAS
    multiply-add instead of an interpreted Catalyst HOF lambda —
    measured 2× at sf0.1 with 20 queries, and the gap grows with query
    count (the r7 verdict's perf-weak item)."""
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.hard_negative_top1_block(emb, HARDNEG_QUERIES)


SQL_HARD_NEGATIVES = f"""
WITH q AS MATERIALIZED (SELECT vec_id AS query_id, label AS query_label, embedding AS qv
           FROM embeddings WHERE vec_id < {HARDNEG_QUERIES} AND embedding IS NOT NULL),
c AS MATERIALIZED (SELECT vec_id AS neighbor_id, label AS neighbor_label, embedding AS cv
      FROM embeddings WHERE embedding IS NOT NULL),
s AS (
  SELECT * FROM (
    SELECT query_id, query_label, neighbor_id, neighbor_label,
           round(list_dot_product(qv::DOUBLE[], cv::DOUBLE[]) /
                 (sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) * sqrt(list_dot_product(cv::DOUBLE[], cv::DOUBLE[]))), 6) AS sim
    FROM c, q WHERE neighbor_label <> query_label
      AND cv IS NOT NULL AND qv IS NOT NULL
  ) WHERE sim IS NOT NULL AND NOT isnan(sim)
)
SELECT query_id, query_label, neighbor_id, neighbor_label, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM s)
WHERE rank = 1 ORDER BY query_id
"""


# --- feature hashing: text -> vector without a model ---

FH_DIM = 16


def _fh_enc(h):
    """bucket*2 + signbit as one int — the kernel's wire encoding — from
    ONE md5 digest column: bucket = the 60-bit hash64 slice (hex 1-15)
    mod FH_DIM, signbit = the 32-bit hash_slice(16) slice (hex 16-23)
    mod 2. Both slices are non-negative, so the Spark/DuckDB ``%`` sign
    conventions agree."""
    b = (F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % FH_DIM).cast("int")
    sbit = (F.conv(F.substring(h, 16, 8), 16, 10).cast("long") % 2).cast("int")
    return b * 2 + sbit


def feature_hash_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick document embedding (Weinberger et al. 2009;
    sklearn FeatureHasher): each token lands in one of ``FH_DIM``
    buckets by hash with a second-hash ±1 sign, the signed counts are
    L2-normalized — a deterministic text→vector featurizer with NO
    trained model, the bridge from the text family into the
    similarity/ANN stack (hashed vectors feed `knn_*`, `semdedup`,
    `pq_*`, `hybrid_search_rrf` directly).

    This is the PROGRAMMATIC face (returns ``fh array<double>``); the
    registry entry `q_feature_hash_embed` wraps it with the repo's
    array-output convention (6-dp comma-joined string — the driver's
    canonicalizer hashes scalar cells and cannot factorize an
    array<double>; see `q_embedding_project`). The r9 driver window
    graded the raw array form and ERRed in the canonicalizer — the
    convention exists for exactly this reason and now applies here too.

    Registered face = the numpy bincount kernel (r9, the r8-verdict
    prescription): tokenizing + BOTH md5 hashes stay Catalyst-side in
    ONE transform that encodes each token as ``bucket*2 + signbit``
    (hash64 is a non-negative 60-bit slice, so both ``%`` results are
    non-negative), then a mapInPandas kernel folds each Arrow batch
    with ONE vectorized ``np.bincount(doc*FH_DIM + b, weights=s)`` +
    row-wise L2 normalize — replacing FH_DIM interpreted
    ``F.aggregate`` lambda folds per document (measured 2.7-3.1 s at
    sf0.1, 5.5-6.3x the DuckDB twin) with C-speed accumulation. ZERO
    shuffle except the output sort; at 100 TB this featurizes at
    parquet-scan speed. The oracle runs the relational
    explode->group->grid plan -- same answer, deliberately different
    plan, pinned row-for-row (`test_r9_ops.py`). Zero-norm docs
    (empty/NULL text) emit the all-zero vector on both sides (kernel,
    oracle grid) instead of tripping ANSI division; rounding is
    half-away (`similarity._round_half_away`) to match F.round/DuckDB.
    """
    from rustic_witcher_spark.operators.similarity import _round_half_away

    # range-partition on doc_id on the INPUT side: the global output
    # order then costs only a sortWithinPartitions after the kernel
    # (range partitions are emitted in ascending key order). A plain
    # trailing orderBy would make the RangePartitioner SAMPLING pass
    # re-execute the whole hash+kernel stage (measured: exactly 2x);
    # sampling the input costs one cheap (doc_id, text) scan instead.
    d = _read(spark, sf_dir, "documents").repartitionByRange(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = text.tokens(F.col("text"))
    # ONE md5 per token: bucket from hex chars 1-15 (the hash64 slice),
    # sign bit from chars 16-23 (the hash_slice(16) slice) of the SAME
    # digest — md5 dominates the per-token cost, so this halves it vs
    # the original two-digest form
    enc = F.transform(
        toks,
        lambda t: _fh_enc(md5_hex(t, SEED, "fh")),
    )
    src = d.select("doc_id", enc.alias("__enc"))

    def fold(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            arrs = [
                np.asarray(a, dtype=np.int64) if a is not None else np.empty(0, dtype=np.int64)
                for a in pdf["__enc"]
            ]
            lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
            n = len(arrs)
            if lens.sum() == 0:
                mat = np.zeros((n, FH_DIM))
            else:
                flat = np.concatenate(arrs)
                doc_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
                b, sign = flat >> 1, (flat & 1) * 2 - 1
                # ±1 sums are exact in float64 far past any real doc length
                mat = np.bincount(
                    doc_idx * FH_DIM + b, weights=sign, minlength=n * FH_DIM
                ).reshape(n, FH_DIM)
            nrm = np.linalg.norm(mat, axis=1)
            safe = np.where(nrm == 0.0, 1.0, nrm)
            out = _round_half_away(mat / safe[:, None])
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "fh": list(out)}
            )

    return src.mapInPandas(fold, "doc_id long, fh array<double>").sortWithinPartitions(
        "doc_id"
    )


def q_feature_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry face of `feature_hash_vectors`: same bincount-kernel
    plan, with ``fh`` serialized per the array-output convention (the
    r10 fix for the r9 driver red — the ONLY change vs r9 is the
    trailing 16-element format/join projection, zero plan impact)."""
    v = feature_hash_vectors(spark, sf_dir)
    # the repo's array-output convention (q_embedding_project): 6-dp
    # '%.6f' coordinates joined by ',', with ``+ 0.0`` collapsing IEEE
    # -0.0 (a ±1 signed sum divided by a large norm can round half-away
    # to -0.0). The kernel already rounded to 6 dp, so format_string
    # and DuckDB's printf agree.
    fh = F.array_join(F.transform("fh", lambda x: F.format_string("%.6f", x + F.lit(0.0))), ",")
    return v.select("doc_id", fh.alias("fh"))


def sql_feature_hash_embed() -> str:
    b_expr = f"(('0x' || substr(hh, 1, 15))::BIGINT % {FH_DIM})"
    s_expr = f"((('0x' || substr(hh, 16, 8))::BIGINT % 2) * 2 - 1)"
    return f"""
WITH toks AS (SELECT doc_id, unnest({_toks_sql("text")}) AS term FROM documents),
dig AS (SELECT doc_id, {sql_md5_hex('term', SEED, 'fh')} AS hh FROM toks),
h AS (SELECT doc_id, {b_expr} AS b, {s_expr} AS s FROM dig),
agg AS (SELECT doc_id, b, sum(s) AS v FROM h GROUP BY doc_id, b),
grid AS (
  SELECT d.doc_id, gs.b FROM (SELECT DISTINCT doc_id FROM documents) d,
       generate_series(0, {FH_DIM - 1}) gs(b)
),
vecs AS (
  SELECT g.doc_id, g.b, coalesce(a.v, 0)::BIGINT AS v
  FROM grid g LEFT JOIN agg a ON a.doc_id = g.doc_id AND a.b = g.b
),
n AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM vecs GROUP BY doc_id)
SELECT v.doc_id,
       array_to_string(list(
         printf('%.6f', CASE WHEN n.nrm = 0 THEN 0.0 ELSE round(v.v / n.nrm, 6) END + 0.0)
         ORDER BY v.b), ',') AS fh
FROM vecs v JOIN n USING (doc_id)
GROUP BY v.doc_id ORDER BY v.doc_id
"""


# --- embedding outliers: distance-to-centroid corpus hygiene ---

OUTLIER_CLUSTERS = 8
OUTLIER_K = 20


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus hygiene via embedding structure: the ``OUTLIER_K``
    vectors farthest from their own k-means centroid — mislabeled,
    corrupted, or genuinely out-of-distribution items that quality
    heuristics over TEXT can't see (the embedding-side complement of
    `doc_quality`/`repetition_signals`, and the audit face of the
    `semdedup` clustering).

    Clustering replays the deterministic IVF machinery (md5-seeded
    sample + one Lloyd step — the exact `knn_ivf`/`semdedup` skeleton,
    so all three oracles share one centroid derivation). Assignment
    happens ENTIRELY IN THE PROJECTION: the ≤ n_clusters centroids are
    collected (a documented bounded collect, same budget as the IVF
    probe ids) and embedded as literal arrays, so the nearest-centroid
    argmax is an array_max over n_clusters structs per row — ZERO
    shuffle, no per-vector window, followed by a global TakeOrdered
    bottom-K. Ranks compare ROUNDED (6 dp) similarity with (sim, -cid)
    struct tie-breaking, so engine choice can't drift inside a rounding
    bucket. At 100 TB this plan is scan → project → TakeOrdered: the
    only data movement is K rows.
    """
    emb = _read(spark, sf_dir, "embeddings")
    cent_rows = sorted(
        similarity.ivf_centroids(emb, n_clusters=OUTLIER_CLUSTERS, iters=1).collect(),
        key=lambda r: r["cid"],
    )
    if not cent_rows:  # empty / all-null corpus: no structure, no outliers
        return spark.createDataFrame([], "vec_id long, label long, cid int, csim double, rank int")
    clean = emb.filter(F.col("embedding").isNotNull())
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    F.round(
                        similarity.cosine(
                            F.col("embedding"), F.array(*[F.lit(float(x)) for x in r["cvec"]])
                        ),
                        6,
                    ).alias("csim"),
                    F.lit(-int(r["cid"])).alias("__nc"),
                    F.lit(int(r["cid"])).cast("int").alias("cid"),
                )
                for r in cent_rows
            ]
        )
    )
    scored = clean.select(
        "vec_id", "label", best["cid"].alias("cid"), best["csim"].alias("csim")
    )
    out = scored.orderBy(F.col("csim").asc(), F.col("vec_id").asc()).limit(OUTLIER_K)
    w = Window.orderBy(F.col("csim").asc(), F.col("vec_id").asc())  # K rows post-limit
    return out.withColumn("rank", F.row_number().over(w))


def sql_embedding_outliers(n_clusters: int = OUTLIER_CLUSTERS, dim: int = 64, seed: int = SEED) -> str:
    """DuckDB twin: shared IVF seed/Lloyd skeleton, final assignment
    ordered by the SAME rounded similarity + cid tie-break as the
    Spark struct comparison."""
    cos = _SQL_IVF_COS
    return f"""
WITH {_sql_ivf_cent1_ctes(n_clusters, dim, seed)},
a AS (
  SELECT c.vec_id, k.cid, round({cos.format(a='c.v', b='k.cvec')}, 6) AS csim,
         row_number() OVER (PARTITION BY c.vec_id
                            ORDER BY round({cos.format(a='c.v', b='k.cvec')}, 6) DESC, k.cid ASC) AS rn
  FROM (SELECT vec_id, v FROM corpus WHERE v IS NOT NULL) c CROSS JOIN cent1 k
)
SELECT a.vec_id, e.label, a.cid::INT AS cid, a.csim,
       row_number() OVER (ORDER BY a.csim ASC, a.vec_id ASC) AS rank
FROM a JOIN embeddings e ON e.vec_id = a.vec_id
WHERE a.rn = 1
ORDER BY a.csim ASC, a.vec_id ASC LIMIT {OUTLIER_K}
"""


# --- contrastive triplet construction (dedup positives × hard negatives) ---

TRIPLET_NUM_PERM = 32
TRIPLET_BANDS = 8
TRIPLET_JACCARD = 0.5


def q_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triplets (anchor, positive, negative): the
    dataset-construction flagship that composes the dedup and
    similarity families. POSITIVES are verified near-duplicate pairs
    from the MinHash/LSH banding engine (both directions of each pair —
    the standard symmetric-positives convention); the NEGATIVE for each
    anchor is its hardest non-duplicate: the top-1 cosine neighbor over
    the id-aligned embeddings EXCLUDING the anchor itself and ALL its
    near-dup partners ("similar but not a duplicate" — the near-miss
    that teaches the margin without poisoning it with a true positive).

    Scale shape: the positive side is the banded-bucket pair engine
    (one shuffle, never an all-pairs self-join — `dedup.py` notes); the
    negative side is the REGISTERED vectorized block kernel
    (`similarity.exclusion_top1_block`): the anchor set (bounded by the
    corpus' near-dup rate, NOT its size) broadcasts once per executor
    with per-anchor exclusion id lists, each Arrow batch reduces to one
    candidate per anchor via matmul + masked argmax, and a map-side
    max(struct) finishes the top-1 — no per-anchor window, and the
    per-pair cosine is a BLAS multiply-add instead of an interpreted
    HOF lambda (hundreds of anchors × corpus at sf0.1: a Catalyst
    cross join measured 3.7 s, the kernel ~2 s; the gap grows with the
    dup rate). Ties break toward the smallest neighbor id; cosine rounds
    to 6 dp (half-away, kernel and SQL alike) before comparison.
    """
    docs = _spread(spark, _read(spark, sf_dir, "documents"))
    emb = _read(spark, sf_dir, "embeddings")

    cands = dedup.minhash_lsh_candidates(
        docs, "text", "doc_id", num_perm=TRIPLET_NUM_PERM, bands=TRIPLET_BANDS,
        seed=SEED, max_bucket_size=1 << 40,
    )
    # Materialize the verified pair set (|pairs| rows — corpus dup-rate
    # sized): it feeds THREE consumers (both union branches of `sym`
    # and the final join-back), and Catalyst offers no cross-branch
    # subtree reuse — without the cut the 32-perm signature subplan
    # executes three times (9.9 s → 3.7 s measured at sf0.1; the block
    # kernel then takes the remainder to ~2 s).
    pairs = materialize(
        dedup.verify_candidates_jaccard(
            cands, docs, "text", "doc_id", threshold=TRIPLET_JACCARD, k=5
        ).select("id_a", "id_b", "jaccard")
    )

    sym = pairs.select(
        F.col("id_a").alias("anchor_id"), F.col("id_b").alias("positive_id"), "jaccard"
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("anchor_id"), F.col("id_a").alias("positive_id"), "jaccard"
        )
    )
    excl = sym.groupBy("anchor_id").agg(F.collect_set("positive_id").alias("__ex"))
    anch = excl.join(
        emb.select(F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("__qv")),
        "anchor_id",
    )
    best = similarity.exclusion_top1_block(emb, anch)
    return (
        sym.join(best, "anchor_id")
        .select(
            "anchor_id",
            "positive_id",
            F.col("neighbor_id").alias("negative_id"),
            F.round("jaccard", 4).alias("jaccard"),
            F.col("sim").alias("neg_sim"),
        )
        .orderBy("anchor_id", "positive_id")
    )


def sql_contrastive_triplets() -> str:
    """DuckDB twin: the minhash/LSH pair SQL embedded as a subquery,
    same symmetric positives, same exclusion-aware cosine argmax."""
    cos = (
        "round(list_dot_product(a.qv::DOUBLE[], c.embedding::DOUBLE[]) / "
        "(sqrt(list_dot_product(a.qv::DOUBLE[], a.qv::DOUBLE[])) * "
        "sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6)"
    )
    return f"""
WITH cand AS (
  SELECT id_a, id_b, jaccard
  FROM ({sql_minhash_lsh_candidates(TRIPLET_NUM_PERM, TRIPLET_BANDS, TRIPLET_JACCARD)})
),
sym AS (
  SELECT id_a AS anchor_id, id_b AS positive_id, jaccard FROM cand
  UNION ALL
  SELECT id_b AS anchor_id, id_a AS positive_id, jaccard FROM cand
),
excl AS (SELECT anchor_id, list(positive_id) AS ex FROM sym GROUP BY anchor_id),
emb_nn AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
a AS (
  SELECT anchor_id, ex, e.embedding AS qv
  FROM excl JOIN emb_nn e ON e.vec_id = excl.anchor_id
),
s AS (
  SELECT * FROM (
    SELECT a.anchor_id, c.vec_id AS neighbor_id, {cos} AS sim
    FROM emb_nn c, a
    WHERE c.vec_id <> a.anchor_id AND NOT list_contains(a.ex, c.vec_id)
  ) WHERE sim IS NOT NULL AND NOT isnan(sim)
),
best AS (
  SELECT anchor_id, neighbor_id AS negative_id, sim,
         row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, neighbor_id ASC) AS rn
  FROM s
)
SELECT sym.anchor_id, sym.positive_id, best.negative_id,
       round(sym.jaccard, 4) AS jaccard, best.sim AS neg_sim
FROM sym JOIN best ON best.anchor_id = sym.anchor_id AND best.rn = 1
ORDER BY sym.anchor_id, sym.positive_id
"""


BM25_TERMS = ("spark", "stream", "dup")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (Lucene's idf variant) of a fixed query
    term set over the corpus — the classical ranking function a
    training-data search/inspection tool needs beside embedding kNN.

    Shapes: one scan computes per-doc tf per term as Catalyst HOF
    filters (term literals — no captured-column substr rescans), a
    1-row corpus aggregate (N, Σdl, per-term df) attaches via
    broadcast, and the top-k is orderBy+limit → TakeOrdered partial
    top-k on every partition, never a single-partition global window.
    Only docs matching ≥1 term are scored, so the avgdl denominator is
    provably > 0 whenever any row survives (a qualifying doc has
    dl ≥ 1)."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    toks = d.select("doc_id", text.tokens(F.col("text")).alias("t")).withColumn("dl", F.size("t"))
    def _tf(term: str):
        # single-parameter closure: a (x, i) lambda would make PySpark
        # bind the array INDEX to the second parameter
        return F.size(F.filter(F.col("t"), lambda x: x == F.lit(term))).cast("long")

    for i, term in enumerate(BM25_TERMS):
        toks = toks.withColumn(f"tf{i}", _tf(term))
    corpus = toks.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").cast("double").alias("sum_dl"),
        *[F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}") for i in range(len(BM25_TERMS))],
    )
    # arrays_overlap: ONE tokenizer evaluation in the pushed-down
    # predicate (a tf0+tf1+tf2 > 0 filter pushes the 3 HOF tf counts —
    # and therefore 3 full tokenizations — into the scan's data filter)
    qualifying = toks.filter(
        F.arrays_overlap(F.col("t"), F.array(*[F.lit(t) for t in BM25_TERMS]))
    )
    avgdl = F.col("sum_dl") / F.col("n")
    score = F.lit(0.0)
    for i in range(len(BM25_TERMS)):
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = F.log((F.col("n") - df + 0.5) / (df + 0.5) + 1)
        score = score + idf * (tf * (BM25_K1 + 1)) / (tf + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / avgdl))
    return (
        qualifying.crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            *[F.col(f"tf{i}").alias(f"tf_{t}") for i, t in enumerate(BM25_TERMS)],
            F.round(score, 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(BM25_TOPK)
    )


def sql_bm25_search() -> str:
    nt = len(BM25_TERMS)
    tf_defs = ", ".join(f"len(list_filter(t, x -> x = '{t}'))::BIGINT AS tf{i}" for i, t in enumerate(BM25_TERMS))
    df_defs = ", ".join(f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)::BIGINT AS df{i}" for i in range(nt))
    score = " + ".join(
        f"ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1)"
        f" * (tf{i} * ({BM25_K1} + 1))"
        f" / (tf{i} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / (sum_dl / n)))"
        for i in range(nt)
    )
    tf_out = ", ".join(f"tf{i} AS tf_{t}" for i, t in enumerate(BM25_TERMS))
    qual = " + ".join(f"tf{i}" for i in range(nt))  # same set as Spark's arrays_overlap
    return f"""
WITH toks AS (SELECT doc_id, {_toks_sql('text')} AS t FROM documents),
base AS (SELECT doc_id, len(t)::INT AS dl, {tf_defs} FROM toks),
corpus AS (SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE AS sum_dl, {df_defs} FROM base)
SELECT doc_id, {tf_out}, round(0.0 + {score}, 6) AS score
FROM base CROSS JOIN corpus
WHERE {qual} > 0
ORDER BY score DESC, doc_id ASC LIMIT {BM25_TOPK}
"""


# --- hybrid retrieval: lexical + dense legs fused by reciprocal rank ---

RRF_N_ANCHORS = 3  # anchor queries = documents/embeddings with id < 3
RRF_K0 = retrieval.RRF_K0  # shared with the operator so the SQL twin can't drift
RRF_POOL = 20      # per-leg candidate pool depth
RRF_TOPK = 10      # fused results per anchor


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: a LEXICAL ranking (distinct-token Jaccard vs
    the anchor document's text) and a DENSE ranking (cosine over the
    id-aligned embeddings table) fused by reciprocal rank,
    score = Σ_legs 1/(K0 + rank) — the Cormack/Clarke/Büttcher rule
    every hybrid search stack ships, and the retrieval face a
    paired-data mining pipeline needs beside `bm25_search` (one lexical
    system alone) and `knn_bruteforce` (one dense system alone).

    Cross-engine determinism: the fused score is emitted in integer
    micro-units via FLOOR division — floor(1e6 / (K0 + rank)) is exact
    in both engines, so the fused ordering cannot drift on float
    rounding; per-leg ranks tie-break on doc_id; absent-leg ranks
    surface as 0, not NULL ("not in this leg's pool" — and NULL-order
    is an engine-specific hash trap).

    Scale shape: each leg broadcasts the |anchors|-row query set
    against ONE corpus scan (the bm25/hard_negatives pattern — never a
    corpus self-join); the lexical leg prunes non-intersecting docs
    before ranking. The per-anchor row_number pool shuffles skinny
    (anchor, doc, score) rows only; at 1000-executor scale the window
    swaps for the two-level salted top-k (`token_budget_selection`'s
    prefix-scan pattern) with identical semantics. The fusion join runs
    over two ≤ |anchors|·RRF_POOL frames — trivial at any scale.

    Core lives in `operators/retrieval.hybrid_rrf` (the CLI's
    `hybrid-search` leg runs the same code over arbitrary corpora).
    """
    return retrieval.hybrid_rrf(
        _read(spark, sf_dir, "documents"),
        _read(spark, sf_dir, "embeddings"),
        anchor_ids=list(range(RRF_N_ANCHORS)),
        pool=RRF_POOL,
        topk=RRF_TOPK,
        k0=RRF_K0,
    )


def sql_hybrid_search_rrf() -> str:
    """DuckDB twin: same two legs, same floor-division micro-units.
    The dense leg replays SQL_KNN's rounded-cosine convention."""
    cos = (
        "round(list_dot_product(qv::DOUBLE[], cv::DOUBLE[]) / "
        "(sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) * "
        "sqrt(list_dot_product(cv::DOUBLE[], cv::DOUBLE[]))), 6)"
    )
    return f"""
WITH q AS MATERIALIZED (SELECT vec_id AS anchor_id, embedding AS qv FROM embeddings
           WHERE vec_id < {RRF_N_ANCHORS} AND embedding IS NOT NULL),
c AS MATERIALIZED (SELECT vec_id AS doc_id, embedding AS cv FROM embeddings WHERE embedding IS NOT NULL),
ds AS (
  SELECT anchor_id, doc_id, {cos} AS sim FROM c, q WHERE anchor_id <> doc_id
),
dense AS (
  SELECT anchor_id, doc_id,
         row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, doc_id ASC) AS dense_rank
  FROM ds QUALIFY dense_rank <= {RRF_POOL}
),
toks AS (SELECT doc_id, list_distinct({_toks_sql('text')}) AS t FROM documents),
anch AS (SELECT doc_id AS anchor_id, t AS at FROM toks WHERE doc_id < {RRF_N_ANCHORS}),
ls AS (
  SELECT anchor_id, doc_id, len(list_intersect(t, at))::BIGINT AS i,
         round(len(list_intersect(t, at))::DOUBLE /
               greatest(len(t) + len(at) - len(list_intersect(t, at)), 1), 6) AS sim
  FROM toks, anch WHERE doc_id <> anchor_id
),
lex AS (
  SELECT anchor_id, doc_id,
         row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, doc_id ASC) AS lex_rank
  FROM ls WHERE i > 0 QUALIFY lex_rank <= {RRF_POOL}
),
fused AS (
  SELECT coalesce(l.anchor_id, d.anchor_id) AS anchor_id,
         coalesce(l.doc_id, d.doc_id) AS doc_id,
         coalesce(l.lex_rank, 0)::INT AS lex_rank,
         coalesce(d.dense_rank, 0)::INT AS dense_rank,
         (CASE WHEN l.lex_rank IS NULL THEN 0
               ELSE CAST(floor(1000000 / ({RRF_K0} + l.lex_rank)) AS BIGINT) END
          + CASE WHEN d.dense_rank IS NULL THEN 0
                 ELSE CAST(floor(1000000 / ({RRF_K0} + d.dense_rank)) AS BIGINT) END) AS rrf_micro
  FROM lex l FULL OUTER JOIN dense d ON l.anchor_id = d.anchor_id AND l.doc_id = d.doc_id
)
SELECT anchor_id, doc_id, lex_rank, dense_rank, rrf_micro,
       row_number() OVER (PARTITION BY anchor_id ORDER BY rrf_micro DESC, doc_id ASC) AS fused_rank
FROM fused QUALIFY fused_rank <= {RRF_TOPK}
ORDER BY anchor_id, fused_rank
"""


SPLIT_BUCKETS = 10  # train / 1 val / 1 test over these buckets
SPLIT_TRAIN_BUCKETS = 8  # passed to BOTH faces so the CASE thresholds can't drift


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split is a deterministic
    hash of the GROUP key (source/domain), never the row — every
    document of a source lands in the same split by construction, so
    near-duplicates within a domain can't straddle train and eval (the
    classic contamination path a row-wise random split opens).

    One source-grain aggregate (map-side combined), then 3-row
    reduction by split — the per-row hash never shuffles: rows reduce
    to sources first, and only |sources| hashes are computed."""
    d = _read(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text.token_count(F.col("text"))).alias("n_tokens"),
    )
    split = sampling.group_split(
        F.col("source"), seed=SEED, buckets=SPLIT_BUCKETS, train_buckets=SPLIT_TRAIN_BUCKETS
    )
    return (
        src.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("split")
    )


def sql_leakage_safe_split() -> str:
    return f"""
WITH src AS (
  SELECT source, count(*) AS n_docs, sum(len({_toks_sql('text')}))::BIGINT AS n_tokens
  FROM documents GROUP BY source
),
lab AS (
  SELECT *, (CASE WHEN b < {SPLIT_TRAIN_BUCKETS} THEN 'train' WHEN b = {SPLIT_TRAIN_BUCKETS} THEN 'val' ELSE 'test' END) AS split
  FROM (SELECT *, {sql_hash64('source', SEED, 'split')} % {SPLIT_BUCKETS} AS b FROM src)
)
SELECT split, count(*)::BIGINT AS n_sources, sum(n_docs)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens
FROM lab GROUP BY split ORDER BY split
"""


def q_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence of the unigram distribution from the
    corpus-wide distribution — the drift/contamination screen that
    flags a source whose token mix diverges (machine-generated spam, a
    mis-tagged language, template boilerplate).

    KL(p_s ‖ p_global) = Σ_t p_st·ln(p_st/p_gt), summed over the
    terms the source actually uses (n_st > 0, so every log argument is
    finite and positive). Shapes: one explode → (source, term) counts
    (map-side combined), term totals re-aggregated from those partials
    (vocabulary-sized shuffle — NOT assumed broadcastable, same as
    term_pmi), source totals joined back on source, corpus total as a
    broadcast scalar. The per-term contribution is emitted in integer
    NANONATS and summed as a long — an order-invariant integer sum, so
    the result is partitioning-independent where a double Σ would be
    at the mercy of float add order (ln outputs sit nowhere near the
    .5 rounding boundary, so both engines' round() agree). The ratio
    inside ln is computed as (n_st·n_tot)/(n_s·n_t) — integer products
    ≤2^53 rendered exactly in double, bit-identical across engines."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    toks = d.select("source", F.explode(text.tokens(F.col("text"))).alias("term"))
    # materialize: the (source, term) count table feeds FOUR consumers
    # (itself, term totals, source totals, corpus total) — without the
    # cut Catalyst re-derives the explode+groupBy subtree per consumer,
    # i.e. four full tokenizer passes over the corpus (plan-audited);
    # the materialized frame is vocabulary×sources-sized, tiny.
    st = materialize(toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("n_st")))
    t = st.groupBy("term").agg(F.sum("n_st").alias("n_t"))
    s = st.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    tot = t.agg(F.sum("n_t").alias("n_tot"))
    p_st = F.col("n_st").cast("double") / F.col("n_s")
    ratio = (F.col("n_st").cast("double") * F.col("n_tot")) / (F.col("n_s").cast("double") * F.col("n_t"))
    contrib = F.round(p_st * F.log(ratio) * F.lit(1e9)).cast("long")
    return (
        st.join(t, "term")
        .join(s, "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.max("n_s").alias("n_tokens"),
            F.sum(contrib).alias("kl_nanonats"),
        )
        .orderBy("source")
    )


def sql_source_kl_divergence() -> str:
    return f"""
WITH tu AS (SELECT source, unnest({_toks_sql('text')}) AS term FROM documents),
st AS (SELECT source, term, count(*) AS n_st FROM tu GROUP BY 1, 2),
t AS (SELECT term, sum(n_st)::BIGINT AS n_t FROM st GROUP BY 1),
s AS (SELECT source, sum(n_st)::BIGINT AS n_s FROM st GROUP BY 1),
tot AS (SELECT sum(n_t)::BIGINT AS n_tot FROM t)
SELECT st.source,
       count(*)::BIGINT AS n_terms,
       max(n_s)::BIGINT AS n_tokens,
       sum(round((n_st::DOUBLE / n_s) * ln((n_st::DOUBLE * n_tot) / (n_s::DOUBLE * n_t)) * 1e9)::BIGINT)::BIGINT AS kl_nanonats
FROM st JOIN t USING (term) JOIN s USING (source) CROSS JOIN tot
GROUP BY st.source ORDER BY st.source
"""


DRIFT_REF_SOURCE = "src0"  # the frozen-baseline slice
DRIFT_REF_VOCAB = 20  # reference keeps its top-K terms — vocab-bounded state


def q_drift_vs_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch face of the streaming drift monitor, through the SAME code
    path (``streaming.drift.term_counts`` + ``kl_vs_reference``): freeze
    the top-{DRIFT_REF_VOCAB} unigram distribution of one document
    source as the reference, compute KL(rest ‖ reference) in integer
    nanonats plus the matched/OOV diagnostics.

    This is the entry that puts the finalizer's exact matched-token
    normalization under the driver's oracle gate — ``source_kl_divergence``
    covers the corpus-global formula, not this one: here the reference
    vocabulary is CAPPED (as any production frozen baseline is), so the
    live distribution must renormalize over matched tokens only and
    surface out-of-vocabulary mass separately instead of folding it in
    (which would push the metric NEGATIVE as OOV grows — see
    ``streaming/drift.py``). The streaming face maintains ``term_counts``
    as its one stateful aggregation and runs this identical finalizer
    over the state table; batch ≡ stream is pinned by test.

    Scale: both count tables are vocabulary-bounded; the reference is a
    top-K TakeOrdered (no full sort) broadcast into the join; the
    finalizer is one aggregate over |live vocab| rows."""
    d = _spread(spark, _read(spark, sf_dir, "documents"))
    ref = (
        drift.term_counts(d.filter(F.col("source") == DRIFT_REF_SOURCE))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(DRIFT_REF_VOCAB)
    )
    live = drift.term_counts(d.filter(F.col("source") != DRIFT_REF_SOURCE))
    return drift.kl_vs_reference(live, ref)


def sql_drift_vs_reference() -> str:
    return f"""
WITH tu AS (SELECT source, unnest({_toks_sql('text')}) AS term FROM documents),
ref AS (SELECT term, count(*) AS r_n FROM tu WHERE source = '{DRIFT_REF_SOURCE}'
        GROUP BY 1 ORDER BY count(*) DESC, term ASC LIMIT {DRIFT_REF_VOCAB}),
cnt AS (SELECT term, count(*) AS n FROM tu WHERE source <> '{DRIFT_REF_SOURCE}' GROUP BY 1),
j AS (SELECT cnt.term, cnt.n, ref.r_n FROM cnt LEFT JOIN ref USING (term)),
m AS (SELECT sum(n)::BIGINT AS m_tot FROM j WHERE r_n IS NOT NULL),
rt AS (SELECT sum(r_n)::BIGINT AS r_tot FROM ref)
SELECT sum(CASE WHEN r_n IS NOT NULL THEN n ELSE 0 END)::BIGINT AS matched_tokens,
       sum(CASE WHEN r_n IS NULL THEN n ELSE 0 END)::BIGINT AS oov_tokens,
       count(CASE WHEN r_n IS NULL THEN 1 END)::BIGINT AS oov_terms,
       sum(CASE WHEN r_n IS NOT NULL THEN
             round((n::DOUBLE / m_tot) * ln((n::DOUBLE * r_tot) / (m_tot::DOUBLE * r_n)) * 1e9)::BIGINT
           ELSE 0 END)::BIGINT AS kl_nanonats
FROM j CROSS JOIN m CROSS JOIN rt
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------


def build_registry() -> dict[str, tuple[QueryFn, str | None]]:
    """Query inventory, ordered for the driver's correctness gate.

    Definitions below are grouped logically: (1) reference-parity
    surface (filters, the anonymization/transform pipeline,
    CDC/aggregates/validation — the SURVEY §2 core), (2) LLM-pipeline
    extensions (dedup, similarity, sampling/packing/sketches, corpus
    filtering, multimodal, text analysis), (3) TPC-H-ish analytics,
    (4) event-window analytics.

    Driver gate: the driver grades the first 50 entries in dict order,
    and DRIVER_WINDOW names them. A rotation edits that list in place,
    leading with the entries whose latest CORRECTNESS_r*.json verdict
    is oldest. Rotation history lives in git and in those files.
    `scripts/compare_oracle.py` grades every entry, every round.
    """
    reg: dict[str, tuple[QueryFn, str | None]] = {}
    # --- (1) reference-parity: filter operator family (F1–F7) ---
    for name, (table, spec) in FILTER_QUERIES.items():
        reg[name] = (_make_filter_query(table, spec), _filter_sql(table, spec))
    reg.update(
        {
            # --- (1) reference-parity: anonymization/transform pipeline ---
            "anonymize_customer": (q_anonymize_customer, pipeline_oracle_sql(ANON_CUSTOMER_CFG, CUSTOMER_COLUMNS)),
            "anonymize_supplier": (q_anonymize_supplier, pipeline_oracle_sql(ANON_SUPPLIER_CFG, SUPPLIER_COLUMNS)),
            "anonymize_orders": (q_anonymize_orders, sql_anonymize_orders()),
            "faker_suite": (q_faker_suite, sql_faker_suite()),
            "fake_multi_email": (q_fake_multi_email, sql_fake_multi_email_docs()),
            "fake_email_id_prefix": (
                q_fake_email_id_prefix,
                f"SELECT c_custkey, {fake_sql.sql_fake_email_with_id_prefix('c_name', 'c_custkey', SEED)} AS email FROM customer",
            ),
            "sanitize_null_bytes": (q_sanitize_events, SQL_SANITIZE_EVENTS),
            "keep_num_of_records": (q_keep_records, "SELECT * FROM part LIMIT 100"),
            # --- (1) reference-parity: CDC / aggregates / validation ---
            "cdc_upsert": (q_cdc_upsert, SQL_CDC_UPSERT),
            "agg_max_pk": (q_max_pk, "SELECT max(o_orderkey) AS max_pk FROM orders"),
            "validation_check": (q_validation_violations, SQL_VALIDATION),
            "datadiff_check": (q_datadiff, SQL_DATADIFF),
            # --- (2) LLM pipeline: dedup ---
            "dedup_exact": (q_dedup_exact, sql_dedup_exact()),
            "minhash_signatures": (q_minhash_signatures, sql_minhash_signatures()),
            "minhash_lsh_candidates": (q_minhash_lsh_candidates, sql_minhash_lsh_candidates()),
            "simhash": (q_simhash, sql_simhash()),
            "simhash_near_dups": (q_simhash_near_dups, sql_simhash_near_dups()),
            "dedup_clusters": (q_dedup_clusters, sql_dedup_clusters()),
            "ngram_jaccard_adjacent": (q_ngram_jaccard_adjacent, SQL_NGRAM_JACCARD),
            # --- (2) LLM pipeline: similarity / embeddings ---
            "knn_bruteforce": (q_knn_bruteforce, SQL_KNN),
            "knn_lsh": (q_knn_lsh, sql_knn_lsh()),  # approximate vs brute force, but deterministic -> oracle-exact
            # knn_ivf is approximate-by-design (recall-gated in tests) but
            # fully deterministic, so its DuckDB twin replays the same
            # seed/Lloyd/probe pipeline.
            "knn_ivf": (q_knn_ivf, sql_knn_ivf()),
            "embedding_near_dups": (q_embedding_near_dups, SQL_EMBEDDING_NEAR_DUPS),
            "embedding_project": (q_embedding_project, sql_embedding_project()),
            "semdedup": (q_semdedup, sql_semdedup()),
            # --- (2) LLM pipeline: sampling / packing / sketches ---
            "stratified_sample": (q_stratified_sample, sql_stratified_sample()),
            "weighted_sample": (q_weighted_sample, SQL_WEIGHTED_SAMPLE),
            "mixture_sample": (q_mixture_sample, sql_mixture_sample()),
            "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
            "training_shards": (q_training_shards, sql_training_shards()),
            "hll_users": (q_hll_users, sql_hll_users()),
            "heavy_hitters": (q_heavy_hitters, sql_heavy_hitters()),
            "bloom_probe": (q_bloom_probe, sql_bloom_probe()),
            # --- (2) LLM pipeline: corpus filtering (decontam / LM / chunks) ---
            "decontaminate": (q_decontaminate, sql_decontaminate()),
            "unigram_nll": (q_unigram_nll, sql_unigram_nll()),
            "chunk_dedup": (q_chunk_dedup, sql_chunk_dedup()),
            # the composed flagship: dedup → decontam → mixture → shards
            "curation_pipeline": (q_curation_pipeline, sql_curation_pipeline()),
            "corpus_report": (q_corpus_report, SQL_CORPUS_REPORT),
            # --- (2) LLM pipeline: multimodal ---
            "media_metadata": (q_media_metadata, SQL_MEDIA_METADATA),
            # multimodal's hex-chain kernel is reproduced link-by-link in SQL.
            "multimodal_features": (q_multimodal_features, sql_multimodal_features()),
            # --- (2) LLM pipeline: text analysis / quality ---
            "text_stats": (q_text_stats, sql_text_stats()),
            "text_langid": (q_text_langid, sql_text_langid()),
            "text_fingerprint": (q_text_fingerprint, sql_text_fingerprint()),
            "token_count_bpe": (q_token_count_bpe, sql_token_count_bpe()),
            "vocab_top_terms": (q_vocab_top_terms, sql_vocab_top_terms()),
            "langid_confusion": (q_langid_confusion, sql_langid_confusion()),
            "tfidf_top_terms": (q_tfidf_top_terms, sql_tfidf_top_terms()),
            "doc_quality": (q_doc_quality, sql_doc_quality()),
            "pii_redact": (q_pii_redact, sql_pii_redact()),
            # --- (3) analytics (TPC-H-ish) ---
            "q1_pricing_summary": (q1_pricing_summary, SQL_Q1),
            "q3_top_revenue": (q3_top_revenue, SQL_Q3),
            "q5_nation_revenue": (q5_nation_revenue, SQL_Q5),
            "q13_order_distribution": (q13_order_distribution, SQL_Q13),
            "q4_priority_returns": (q4_priority_with_returns, SQL_Q4_RETURNS),
            "q18_large_orders": (q18_large_orders, SQL_Q18_LARGE),
            "q7_nation_volume": (q7_nation_volume, SQL_Q7_VOLUME),
            "q6_forecast_revenue": (q6_forecast_revenue, SQL_Q6),
            "q8_market_share": (q8_market_share, SQL_Q8),
            "q9_profit_by_nation": (q9_profit_by_nation, SQL_Q9),
            "q10_returned_items": (q10_returned_items, SQL_Q10),
            "q12_shipping_lateness": (q12_shipping_lateness, SQL_Q12),
            "q14_promo_revenue": (q14_promo_revenue, SQL_Q14),
            "q15_top_supplier": (q15_top_supplier, SQL_Q15),
            "q17_small_quantity_revenue": (q17_small_quantity_revenue, SQL_Q17),
            "q19_disjunctive_revenue": (q19_disjunctive_revenue, SQL_Q19),
            "q20_part_promotion": (q20_part_promotion, SQL_Q20),
            "q21_waiting_suppliers": (q21_waiting_suppliers, SQL_Q21),
            "q22_idle_customers": (q22_idle_customers, SQL_Q22),
            "rollup_revenue": (q_rollup_revenue, SQL_ROLLUP),
            "distinct_parts_per_supplier": (q_distinct_parts_per_supplier, SQL_DISTINCT_PARTS),
            "top_customers_per_nation": (q_top_customers_per_nation, SQL_TOP_CUSTOMERS),
            # --- (4) event-window analytics / beyond-equi joins ---
            "events_tumbling": (q_events_tumbling, SQL_TUMBLING),
            "events_sliding": (q_events_sliding, SQL_SLIDING),
            "events_session": (q_events_session, SQL_SESSION),
            "funnel_click_purchase": (q_funnel_click_purchase, SQL_FUNNEL),
            "cohort_retention": (q_cohort_retention, SQL_COHORT),
            "value_percentiles": (q_value_percentiles, SQL_VALUE_PERCENTILES),
            "skew_salted_stats": (q_skew_salted_stats, SQL_SKEW_SALTED),
            "doc_length_deciles": (q_doc_length_deciles, SQL_DOC_LENGTH_DECILES),
            "asof_last_purchase": (q_asof_last_purchase, SQL_ASOF),
            "events_in_campaign_windows": (q_events_in_campaign_windows, SQL_CAMPAIGN_WINDOWS),
            "events_json_extract": (q_events_json_extract, SQL_EVENTS_JSON),
            "events_rollup_cascade": (q_events_rollup_cascade, SQL_ROLLUP_CASCADE),
            # --- (2) LLM pipeline: dedup survivors / calibration / sweeps ---
            "dedup_survivors": (q_dedup_survivors, sql_dedup_survivors()),
            "dedup_incremental": (q_dedup_incremental, sql_dedup_incremental()),
            "lsh_calibration": (q_lsh_calibration, sql_lsh_calibration()),
            "quality_threshold_sweep": (q_quality_threshold_sweep, sql_quality_threshold_sweep()),
            "ann_recall_eval": (q_ann_recall_eval, sql_ann_recall_eval()),
            "frame_sample": (q_frame_sample, sql_frame_sample()),
            "user_dwell_stats": (q_user_dwell_stats, SQL_USER_DWELL),
            # --- (3) analytics: TPC-H q2/q11/q16, click attribution ---
            "q2_min_cost_supplier": (q2_min_cost_supplier, SQL_Q2),
            "q11_important_parts": (q11_important_parts, SQL_Q11),
            "q16_supplier_variety": (q16_supplier_variety, SQL_Q16),
            "click_attribution": (q_click_attribution, SQL_CLICK_ATTRIBUTION),
            # --- warehouse ops: SCD2, as-of, profiling, gap-fill, layout ---
            "scd2_user_history": (q_scd2_user_history, SQL_SCD2_HISTORY),
            "scd2_point_in_time": (q_scd2_point_in_time, SQL_SCD2_SNAPSHOT),
            "purchases_with_state_asof": (q_purchases_with_state_asof, SQL_PURCHASES_STATE_ASOF),
            "column_profile": (q_column_profile, sql_column_profile()),
            "ri_orphans": (q_ri_orphans, sql_ri_orphans()),
            "events_gapfill": (q_events_gapfill, SQL_EVENTS_GAPFILL),
            "events_anomaly": (q_events_anomaly, SQL_EVENTS_ANOMALY),
            "ops_healthcheck": (q_ops_healthcheck, sql_ops_healthcheck()),
            "session_transitions": (q_session_transitions, SQL_SESSION_TRANSITIONS),
            "dedup_weighted": (q_dedup_weighted, sql_dedup_weighted()),
            "state_tier_timeline": (q_state_tier_timeline, SQL_STATE_TIER_TIMELINE),
            "customer_churn_sets": (q_customer_churn_sets, SQL_CUSTOMER_CHURN_SETS),
            "latency_histogram": (q_latency_histogram, SQL_LATENCY_HISTOGRAM),
            "zorder_layout": (q_zorder_layout, sql_zorder_layout()),
            "dup_span_fraction": (q_dup_span_fraction, sql_dup_span_fraction()),
            "repetition_signals": (q_repetition_signals, sql_repetition_signals()),
            # --- analytics: pivots, grouping sets, sketches, graph rank ---
            "orders_pivot": (q_orders_pivot, SQL_ORDERS_PIVOT),
            "grouping_sets_revenue": (q_grouping_sets_revenue, SQL_GROUPING_SETS_REVENUE),
            "source_cap": (q_source_cap, SQL_SOURCE_CAP),
            "token_budget_selection": (q_token_budget_selection, sql_token_budget_selection()),
            "embedding_dim_stats": (q_embedding_dim_stats, SQL_EMBEDDING_DIM_STATS),
            "events_moving_avg": (q_events_moving_avg, SQL_EVENTS_MOVING_AVG),
            "term_pmi": (q_term_pmi, sql_term_pmi()),
            "lineitem_unpivot": (q_lineitem_unpivot, SQL_LINEITEM_UNPIVOT),
            "peak_concurrency": (q_peak_concurrency, SQL_PEAK_CONCURRENCY),
            "fuzzy_part_names": (q_fuzzy_part_names, SQL_FUZZY_PART_NAMES),
            "quantile_sketch_events": (q_quantile_sketch_events, sql_quantile_sketch_events()),
            "customer_revenue_standing": (q_customer_revenue_standing, SQL_CUSTOMER_REVENUE_STANDING),
            "rolling_distinct_users": (q_rolling_distinct_users, SQL_ROLLING_DISTINCT_USERS),
            "supplier_pagerank": (q_supplier_pagerank, sql_supplier_pagerank()),
            # --- analytics + corpus selection: graph, DSIR, BPE, mixtures ---
            "triangle_count": (q_triangle_count, SQL_TRIANGLE_COUNT),
            "pareto_suppliers": (q_pareto_suppliers, SQL_PARETO_SUPPLIERS),
            "dsir_selection": (q_dsir_selection, sql_dsir_selection()),
            "bpe_merge_step": (q_bpe_merge_step, sql_bpe_merge_step()),
            "mixture_temperature": (q_mixture_temperature, sql_mixture_temperature()),
            "benford_profile": (q_benford_profile, SQL_BENFORD_PROFILE),
            "weighted_reservoir": (q_weighted_reservoir, sql_weighted_reservoir()),
            "ewma_events": (q_ewma_events, sql_ewma_events()),
            "source_overlap": (q_source_overlap, sql_source_overlap()),
            "events_mad_outliers": (q_events_mad_outliers, SQL_EVENTS_MAD_OUTLIERS),
            "interval_coverage": (q_interval_coverage, SQL_INTERVAL_COVERAGE),
            "funnel_3step": (q_funnel_3step, SQL_FUNNEL_3STEP),
            "hard_negatives": (q_hard_negatives, SQL_HARD_NEGATIVES),
            "bm25_search": (q_bm25_search, sql_bm25_search()),
            "leakage_safe_split": (q_leakage_safe_split, sql_leakage_safe_split()),
            "source_kl_divergence": (q_source_kl_divergence, sql_source_kl_divergence()),
            # --- (2) LLM pipeline: drift, media near-dups, BPE merge chain ---
            "drift_vs_reference": (q_drift_vs_reference, sql_drift_vs_reference()),
            "media_near_dups": (q_media_near_dups, sql_media_near_dups()),
            "bpe_merge_chain": (q_bpe_merge_chain, sql_bpe_merge_chain()),
            # --- (2) LLM pipeline: product-quantized ANN ---
            "pq_ann_topk": (q_pq_ann_topk, sql_pq_ann_topk()),
            # --- (2) LLM pipeline: ANN, vocab, containment, novelty, retrieval ---
            "ivfpq_ann_topk": (q_ivfpq_ann_topk, sql_ivfpq_ann_topk()),
            "bpe_vocab_trained": (q_bpe_vocab_trained, sql_bpe_vocab_trained()),
            "containment_near_dups": (q_containment_near_dups, sql_containment_near_dups()),
            "novelty_scores": (q_novelty_scores, sql_novelty_scores()),
            "vocab_growth": (q_vocab_growth, sql_vocab_growth()),
            "hybrid_search_rrf": (q_hybrid_search_rrf, sql_hybrid_search_rrf()),
            "contrastive_triplets": (q_contrastive_triplets, sql_contrastive_triplets()),
            "embedding_outliers": (q_embedding_outliers, sql_embedding_outliers()),
            "feature_hash_embed": (q_feature_hash_embed, sql_feature_hash_embed()),
            # --- (2) LLM pipeline: persisted indexes, incremental, LM, sketches ---
            "pq_index_query": (q_pq_index_query, sql_pq_index_query()),
            "novelty_incremental": (q_novelty_incremental, sql_novelty_incremental()),
            "embedding_int8_quant": (q_embedding_int8_quant, SQL_EMBEDDING_INT8_QUANT),
            "ann_incremental": (q_ann_incremental, sql_ann_incremental(seed=SEED)),
            "media_incremental": (q_media_incremental, sql_media_incremental()),
            "pq_residual_query": (q_pq_residual_query, sql_pq_residual_query(seed=SEED)),
            "pq_rerank_query": (q_pq_rerank_query, sql_pq_rerank_query()),
            "bigram_nll": (q_bigram_nll, sql_bigram_nll()),
            "zipf_fit": (q_zipf_fit, sql_zipf_fit()),
            "hll_set_ops": (q_hll_set_ops, sql_hll_set_ops()),
            "bigram_nll_oov": (q_bigram_nll_oov, sql_bigram_nll_oov()),
            "semantic_decontam": (q_semantic_decontam, sql_semantic_decontam()),
            # --- streaming: CDC/SCD2 apply paths ---
            "cdc_incremental": (q_cdc_incremental, sql_cdc_incremental()),
            "scd2_incremental": (q_scd2_incremental, SQL_SCD2_HISTORY),
            # --- BPE train→apply corpus encode ---
            "bpe_encode": (q_bpe_encode, sql_bpe_encode()),
            # --- streaming: custom stateful operators ---
            "quota_incremental": (q_quota_incremental, sql_quota_incremental()),
            "stateful_totals_incremental": (
                q_stateful_totals_incremental,
                sql_stateful_totals_incremental(),
            ),
            "dedup_exact_incremental": (
                q_dedup_exact_incremental,
                sql_dedup_exact_incremental(),
            ),
            "ingest_health_incremental": (
                q_ingest_health_incremental,
                sql_ingest_health_incremental(),
            ),
            "shard_incremental": (q_shard_incremental, sql_shard_incremental()),
            # --- streaming: stream-stream join, complete-mode aggregations ---
            "attribution_incremental": (
                q_attribution_incremental,
                sql_attribution_incremental(),
            ),
            # twin of the streaming complete-mode state + shared finalizer
            # IS the batch entry's SQL — additive state makes them equal
            "drift_incremental": (q_drift_incremental, sql_drift_vs_reference()),
            "histogram_incremental": (q_histogram_incremental, SQL_LATENCY_HISTOGRAM),
            # --- privacy audit + join-planning diagnostics ---
            "k_anonymity_lattice": (q_k_anonymity_lattice, sql_k_anonymity_lattice()),
            "join_skew_probe": (q_join_skew_probe, sql_join_skew_probe()),
            # --- co-purchase affinity + FD discovery audit ---
            "basket_rules": (q_basket_rules, sql_basket_rules()),
            "fd_audit": (q_fd_audit, sql_fd_audit()),
            # --- experiment/trend analytics, cross-engine-exact ---
            "ab_test_summary": (q_ab_test_summary, sql_ab_test_summary()),
            "value_trend_ols": (q_value_trend_ols, sql_value_trend_ols()),
        }
    )
    ordered = {name: reg.pop(name) for name in DRIVER_WINDOW}
    ordered.update(reg)
    return ordered


# The driver gate's window: the first 50 registry entries, in this
# order (rotation policy in the build_registry docstring).
DRIVER_WINDOW = [
    "attribution_incremental", "drift_incremental", "histogram_incremental",
    "k_anonymity_lattice", "join_skew_probe",
    "basket_rules", "fd_audit",
    "ab_test_summary", "value_trend_ols",
    "skew_salted_stats", "doc_length_deciles", "value_percentiles",
    "token_count_bpe", "vocab_top_terms", "langid_confusion",
    "tfidf_top_terms", "doc_quality",
    "pii_redact", "rollup_revenue", "distinct_parts_per_supplier",
    "top_customers_per_nation", "asof_last_purchase",
    "events_in_campaign_windows", "events_json_extract",
    "events_rollup_cascade", "events_tumbling", "events_sliding",
    "funnel_click_purchase", "cohort_retention", "user_dwell_stats",
    "filter_contains", "anonymize_customer", "cdc_upsert",
    "minhash_lsh_candidates", "dedup_survivors", "dedup_incremental",
    "lsh_calibration", "quality_threshold_sweep", "ann_recall_eval",
    "frame_sample",
    "ivfpq_ann_topk", "bpe_vocab_trained", "containment_near_dups",
    "novelty_scores", "vocab_growth", "pq_ann_topk",
    "repetition_signals", "hybrid_search_rrf", "contrastive_triplets",
    "embedding_outliers",
]
