"""Materialization strategy knob (operators/materialize.py).

Operators that materialize reused subtrees must produce IDENTICAL
results under every SPARK_GRAFT_MATERIALIZE strategy — the knob trades
fault-tolerance against speed, never semantics.
"""

from __future__ import annotations

import random

import pytest

from rustic_witcher_spark.operators import pq, similarity
from rustic_witcher_spark.operators.cluster import connected_components
from rustic_witcher_spark.operators.materialize import materialize


def _trained(spark):
    """(ivf_centroids, pq_codebooks) frames trained on one small corpus."""
    rnd = random.Random(5)
    corpus = spark.createDataFrame(
        [(i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(24)], "vec_id long, embedding array<double>"
    )
    return (
        similarity.ivf_centroids(corpus, 4, iters=2),
        pq.pq_codebooks(corpus, n_subspaces=2, n_codes=3, dim=8, iters=2),
    )


def _trained_rows(spark):
    return [sorted(tuple(r) for r in df.collect()) for df in _trained(spark)]


def _cc_labels(spark):
    nodes = spark.createDataFrame([(n,) for n in range(8)], ["doc_id"])
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"])
    out = connected_components(nodes, edges, "doc_id")
    return {r["node"]: r["component"] for r in out.collect()}


@pytest.mark.parametrize("mode", ["local", "persist", "off"])
def test_strategies_agree(spark, monkeypatch, mode):
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "off")
    recomputed = _trained_rows(spark)
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", mode)
    assert _cc_labels(spark) == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}
    trained = _trained_rows(spark)
    assert [len(rows) for rows in trained] == [4, 6]
    assert trained == recomputed


def test_trained_models_are_cut_from_lineage(spark, monkeypatch):
    """Under the default strategy a trained model's plan is a scan of
    its materialized rows, so no consumer re-runs the Lloyd aggregates."""
    monkeypatch.delenv("SPARK_GRAFT_MATERIALIZE", raising=False)
    for df in _trained(spark):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Aggregate" not in plan, plan


def test_reliable_needs_checkpoint_dir_then_works(spark, monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "reliable")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    assert _cc_labels(spark)[3] == 1


def test_invalid_mode_is_loud(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "banana")
    df = spark.range(3)
    with pytest.raises(ValueError, match="banana"):
        materialize(df)


def test_off_returns_same_plan(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "off")
    df = spark.range(3)
    assert materialize(df) is df
