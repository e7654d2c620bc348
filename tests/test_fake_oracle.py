"""Spark-vs-DuckDB equality for every deterministic fake generator.

This is the property that makes the driver's correctness gate work: the
DuckDB renderers in fake_sql.py must reproduce the Spark expressions in
fake.py bit-for-bit on real data.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rustic_witcher_spark.functions import fake, fake_sql
from tests.conftest import assert_same

SEED = 42

GENERATORS = [
    ("firstname", fake.fake_firstname, fake_sql.sql_fake_firstname),
    ("lastname", fake.fake_lastname, fake_sql.sql_fake_lastname),
    ("name", fake.fake_name, fake_sql.sql_fake_name),
    ("companyname", fake.fake_companyname, fake_sql.sql_fake_companyname),
    ("email", fake.fake_email, fake_sql.sql_fake_email),
    ("address", fake.fake_address, fake_sql.sql_fake_address),
    ("md5", fake.fake_md5, fake_sql.sql_fake_md5),
    ("phone", fake.fake_phone, fake_sql.sql_fake_phone),
]


@pytest.mark.parametrize("name,sfn,dfn", GENERATORS, ids=[g[0] for g in GENERATORS])
def test_generator_matches_duckdb(spark, duck, sf_dir, name, sfn, dfn):
    df = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = df.select(F.col("c_custkey").alias("k"), sfn(F.col("c_name"), SEED).alias("v"))
    sql = f"SELECT c_custkey AS k, {dfn('c_name', SEED)} AS v FROM customer"
    assert_same(out, duck, sql)


def test_multi_email_matches_duckdb(spark, duck):
    rows = [("{alice@a.com, bob@b.org, carol@c.net}",), ("{x@y.z}",), ("x",), ("{}",)]
    df = spark.createDataFrame(rows, ["a"])
    duck.execute("CREATE OR REPLACE TABLE me AS SELECT * FROM (VALUES ('{alice@a.com, bob@b.org, carol@c.net}'), ('{x@y.z}'), ('x'), ('{}')) t(a)")
    out = df.select(fake.fake_multi_email(F.col("a"), SEED).alias("v"))
    assert_same(out, duck, f"SELECT {fake_sql.sql_fake_multi_email('a', SEED)} AS v FROM me")


def test_phone_edge_inputs_match_duckdb(spark, duck):
    """NULL, empty, length-1, digit-free and non-ASCII-digit inputs: only
    ASCII digits are remapped and strings of length <= 1 are kept."""
    vals = ["+1 (555) 010-9999", "", "5", "abc", "١٢٣ 12", "0000000000"]
    df = spark.createDataFrame([(None,)] + [(v,) for v in vals], "a string")
    rows = ", ".join(["(NULL)"] + [f"('{v}')" for v in vals])
    duck.execute(f"CREATE OR REPLACE TABLE ph AS SELECT * FROM (VALUES {rows}) t(a)")
    out = df.select(fake.fake_phone(F.col("a"), SEED).alias("v"))
    assert_same(out, duck, f"SELECT {fake_sql.sql_fake_phone('a', SEED)} AS v FROM ph")


def test_email_with_id_prefix_matches_duckdb(spark, duck, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = df.select(fake.fake_email_with_id_prefix(F.col("c_name"), F.col("c_custkey"), SEED).alias("v"))
    sql = f"SELECT {fake_sql.sql_fake_email_with_id_prefix('c_name', 'c_custkey', SEED)} AS v FROM customer"
    assert_same(out, duck, sql)


def test_null_input_matches_duckdb(spark, duck):
    df = spark.createDataFrame([(None,), ("x",)], "a string")
    duck.execute("CREATE OR REPLACE TABLE nt AS SELECT * FROM (VALUES (NULL), ('x')) t(a)")
    out = df.select(fake.fake_name(F.col("a"), SEED).alias("v"))
    assert_same(out, duck, f"SELECT {fake_sql.sql_fake_name('a', SEED)} AS v FROM nt")
