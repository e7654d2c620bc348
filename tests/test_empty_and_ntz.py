"""Engine robustness sweep: every registry entry must plan and execute
against (a) 0-row tables and (b) tables written by a DEFAULT Spark
writer, whose timestamp columns come back TIMESTAMP_NTZ via the
parquet NTZ marker that overrides the engine's pinned inference conf.

Both are day-one user scenarios (an empty partition/day; a table
round-tripped through someone else's Spark job), and both used to
crash a handful of entries before sources.parquet.cast_ntz_timestamps
normalized the read paths.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from rustic_witcher_spark.sources.parquet import cast_ntz_timestamps, read_events

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    """0-row copies of every table with timestamp columns CAST to
    TIMESTAMP_NTZ before writing — the engine session reads them back
    as plain TIMESTAMP otherwise (inference is pinned off), and only
    an explicitly NTZ-typed write emits the parquet NTZ marker. This
    makes the sweep exercise both robustness properties at once."""
    from pyspark.sql import functions as F

    d = tmp_path_factory.mktemp("empty")
    for t in TABLES:
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        for f in df.schema.fields:
            if f.dataType.typeName() == "timestamp":
                df = df.withColumn(f.name, F.col(f.name).cast("timestamp_ntz"))
        df.limit(0).write.parquet(str(d / f"{t}.parquet"))
    return str(d)


def test_every_entry_survives_empty_ntz_tables(empty_dir, spark):
    from conftest import sweep_entries

    results = sweep_entries(
        [(name, lambda fn=fn: fn(spark, empty_dir).collect()) for name, fn in entrymod.queries().items()]
    )  # full eval via collect (count() would prune the output projection); jobs overlap per guide §2.6
    failures = [
        f"{name}: {str(exc).splitlines()[0][:140]}" for name, (_, exc) in results.items() if exc
    ]
    assert not failures, "entries crashed on empty/NTZ tables:\n" + "\n".join(failures)


def test_ntz_events_round_trip_preserves_wall_clock(spark, tmp_path):
    """A data-bearing events table written by a default Spark writer
    (NTZ ts) reads back as TIMESTAMP with identical wall-clock values."""
    orig = read_events(spark, SRC).select("event_id", "ts").limit(50)
    expected = {r["event_id"]: str(r["ts"]) for r in orig.collect()}
    # default writer: ts column keeps whatever type the session gives it;
    # force the NTZ layout explicitly to pin the scenario
    from pyspark.sql import functions as F

    orig.withColumn("ts", F.col("ts").cast("timestamp_ntz")).write.parquet(
        str(tmp_path / "events.parquet")
    )
    back = read_events(spark, str(tmp_path))
    assert back.schema["ts"].dataType.typeName() == "timestamp"
    got = {r["event_id"]: str(r["ts"]) for r in back.collect()}
    assert got == expected


def test_cast_ntz_is_identity_on_clean_frames(spark):
    df = spark.read.parquet(f"{SRC}/orders.parquet")
    assert cast_ntz_timestamps(df) is not None
    assert [f.dataType for f in cast_ntz_timestamps(df).schema.fields] == [
        f.dataType for f in df.schema.fields
    ]


@pytest.fixture(scope="module")
def nulled_dir(spark, tmp_path_factory):
    """Every table with all non-key columns nulled on half the rows —
    the dirty-ingest scenario (late schema, failed upstream joins)."""
    from pyspark.sql import functions as F

    keys = {
        "doc_id", "vec_id", "event_id", "o_orderkey", "l_orderkey",
        "l_linenumber", "c_custkey", "s_suppkey", "p_partkey",
        "n_nationkey", "r_regionkey", "user_id", "ts",
    }
    d = tmp_path_factory.mktemp("nulled")
    for t in TABLES:
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        df = df.withColumn("__odd", F.monotonically_increasing_id() % 2 == 1)
        for c in df.columns:
            if c not in keys and c != "__odd":
                df = df.withColumn(c, F.when(F.col("__odd"), F.lit(None)).otherwise(F.col(c)))
        df.drop("__odd").write.parquet(str(d / f"{t}.parquet"))
    return str(d)


def test_every_entry_survives_nulled_columns(nulled_dir, spark):
    """The sweep that caught embedding_near_dups sending NULL vectors
    into the NumPy matmul kernel (stage-killing np.stack failure)."""
    from conftest import sweep_entries

    results = sweep_entries(
        [(name, lambda fn=fn: fn(spark, nulled_dir).collect()) for name, fn in entrymod.queries().items()]
    )  # full eval via collect (count() would prune the output projection); jobs overlap per guide §2.6
    failures = [
        f"{name}: {str(exc).splitlines()[0][:140]}" for name, (_, exc) in results.items() if exc
    ]
    assert not failures, "entries crashed on nulled columns:\n" + "\n".join(failures)


def test_near_dups_ignore_null_vectors(spark, tmp_path):
    from pyspark.sql import Row

    from rustic_witcher_spark.operators.similarity import cosine_near_dup_pairs

    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0], label=0),
        Row(vec_id=2, embedding=[1.0, 0.0], label=0),
        Row(vec_id=3, embedding=None, label=0),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = cosine_near_dup_pairs(df, 0.9, n_blocks=2).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(1, 2)]  # null row silently excluded


def test_giant_document_shingles_and_chunks_stay_linear(spark):
    """One giant document is ONE row — partitioning can't help, so the
    shingle/chunk expressions must be (near-)linear per row. Before the
    let-bind + blocked-substr fixes, this 100k-char doc took minutes
    (O(n²) capture re-evaluation); now it's seconds — a regression
    re-introducing the quadratic shows up as a multi-minute stall here."""
    from pyspark.sql import functions as F

    from rustic_witcher_spark.operators import lm
    from rustic_witcher_spark.operators.dedup import char_shingles, word_shingle_hashes

    body = " ".join(f"w{i % 97}" for i in range(25000))  # ~100k chars
    df = spark.createDataFrame([(1, body), (2, "w1 w2 w3")], "doc_id long, text string")

    sh = df.select("doc_id", F.size(char_shingles(F.col("text"), 5)).alias("n")).collect()
    n_by_id = {r["doc_id"]: r["n"] for r in sh}
    exact = len({body[i : i + 5] for i in range(len(body) - 4)})
    assert n_by_id[1] == exact  # blocked path == naive distinct-window set
    assert n_by_id[2] == len("w1 w2 w3") - 4

    ws = df.select(F.size(word_shingle_hashes(F.col("text"))).alias("n")).collect()
    assert {r["n"] for r in ws} == {25000 - 2, 1}

    chunks = {r["doc_id"]: r for r in lm.chunk_dup_stats(df, "text", "doc_id").collect()}
    assert chunks[1]["n_chunks"] == 2500  # 25000 tokens / 10 per chunk


def test_document_entries_survive_adversarial_text(spark, tmp_path_factory):
    """Unicode soup, control chars, embedded NULs, empty docs, and one
    50k-token document — every document-family entry must complete.
    (The giant doc previously hung the shingle/chunk entries; the
    others guard regex/token edge handling.)"""
    d = tmp_path_factory.mktemp("weird")
    weird = [
        (1, "héllo wörld é́ combining", "en", "s0", 30),
        (2, "日本語のテキスト と 中文文本 混在", "ja", "s0", 20),
        (3, "emoji 🎉🎊 soup 🚀 and ​ zero width", "en", "s1", 30),
        (4, "rtl العربية نص here", "ar", "s1", 20),
        (5, "ctrl \x01\x02\x03 chars \x7f", "en", "s2", 20),
        (6, "big " * 50000, "en", "s2", 200000),
        (7, "", "en", "s3", 0),
        (8, "\x00 embedded nul \x00", "en", "s3", 18),
        (9, "a", "xx", "s4", 1),
    ]
    spark.createDataFrame(
        weird, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(d / "documents.parquet"))
    for t in TABLES:
        if t != "documents":
            spark.read.parquet(f"{SRC}/{t}.parquet").write.parquet(str(d / f"{t}.parquet"))
    keys = [
        n
        for n in entrymod.queries()
        if any(
            k in n
            for k in (
                "dedup", "minhash", "simhash", "ngram", "text_", "token", "vocab",
                "langid", "tfidf", "doc_", "pii", "chunk", "unigram", "decontam",
                "corpus", "quality", "term_pmi", "source_cap", "fingerprint",
                "curation", "span", "lsh",
            )
        )
    ]
    from conftest import sweep_entries

    qs = entrymod.queries()
    results = sweep_entries(
        [(name, lambda n=name: qs[n](spark, str(d)).collect()) for name in keys]
    )  # full eval via collect; jobs overlap per guide §2.6
    failures = [
        f"{name}: {str(exc).splitlines()[0][:140]}" for name, (_, exc) in results.items() if exc
    ]
    assert not failures, "entries crashed on adversarial text:\n" + "\n".join(failures)


def test_runner_normalizes_ntz_load_file(spark, tmp_path):
    """The anonymization runner's own read path (not queries._read)
    must also accept a Spark-NTZ-marked DMS LOAD file — the review
    finding that cast_ntz_timestamps covered only the query surface."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from rustic_witcher_spark.config.loader import load_config_str
    from rustic_witcher_spark.runner import snapshot

    ev = read_events(spark, SRC).limit(50)
    ev.withColumn("ts", F.col("ts").cast("timestamp_ntz")).coalesce(1).write.parquet(
        str(tmp_path / "w")
    )
    (tmp_path / "src" / "events").mkdir(parents=True)
    part = glob.glob(str(tmp_path / "w" / "part-*.parquet"))[0]
    shutil.copyfile(part, tmp_path / "src" / "events" / "LOAD00000001.parquet")
    raw = spark.read.parquet(str(tmp_path / "src" / "events" / "LOAD00000001.parquet"))
    assert raw.schema["ts"].dataType.typeName() == "timestamp_ntz"  # marker overrides the pin

    cfg = load_config_str(
        """
[[tables]]
table_name = "events"
[tables.anonymization_type]
type = "Multi"
[[tables.anonymization_type.column_transformations]]
column_name = "props"
[tables.anonymization_type.column_transformations.transformation_type]
type = "Nullify"
"""
    )
    report = snapshot(spark, tmp_path / "src", tmp_path / "out", cfg)
    assert report.ok
    back = spark.read.parquet(str(tmp_path / "out" / "events.parquet"))
    assert back.schema["ts"].dataType.typeName() == "timestamp"
    assert back.count() == 50


@pytest.fixture(scope="module")
def all_null_dir(spark, tmp_path_factory):
    """Every non-key column 100% NULL — the degenerate-input scenario
    the half-null sweep can't reach: denominators that fold to 0 only
    when EVERY value in a group is NULL (the round-7 ewma/mixture
    ANSI-divide class), all-NULL text/embeddings, empty token streams."""
    from pyspark.sql import functions as F

    keys = {
        "doc_id", "vec_id", "event_id", "o_orderkey", "l_orderkey",
        "l_linenumber", "c_custkey", "s_suppkey", "p_partkey",
        "n_nationkey", "r_regionkey", "user_id", "ts",
    }
    d = tmp_path_factory.mktemp("all_null")
    for t in TABLES:
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        for f in df.schema.fields:
            if f.name not in keys:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        df.write.parquet(str(d / f"{t}.parquet"))
    return str(d)


def test_every_entry_survives_all_null_columns(all_null_dir, spark):
    """No entry may die on a fully-NULL column under Spark 4's ANSI
    default (DIVIDE_BY_ZERO, CAST_INVALID_INPUT, ...) — a quarantine
    miss upstream degrades results to NULLs, never kills the job."""
    from conftest import sweep_entries

    results = sweep_entries(
        [(name, lambda fn=fn: fn(spark, all_null_dir).collect()) for name, fn in entrymod.queries().items()]
    )  # full eval via collect (count() would prune the output projection); jobs overlap per guide §2.6
    failures = [
        f"{name}: {str(exc).splitlines()[0][:140]}" for name, (_, exc) in results.items() if exc
    ]
    assert not failures, "entries crashed on all-null columns:\n" + "\n".join(failures)
