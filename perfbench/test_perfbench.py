"""Tests of the benchmark's own pieces, at a tiny size and without Spark.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import gen
from probes import EventLog, Span, _union_seconds

TINY_SNAPSHOT = {"customers": 400, "events": 300, "audit": 50}
TINY_CORPUS = {"docs": 80, "stars": 2}


def _files(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


# -------------------------------------------------------------- generators


def test_snapshot_generator_is_deterministic_per_seed(tmp_path):
    a = gen.gen_dms_snapshot(tmp_path / "a", 7, **TINY_SNAPSHOT)
    b = gen.gen_dms_snapshot(tmp_path / "b", 7, **TINY_SNAPSHOT)
    c = gen.gen_dms_snapshot(tmp_path / "c", 8, **TINY_SNAPSHOT)
    assert _files(a.source) == _files(b.source)
    assert _files(a.source) != _files(c.source)
    for name, truth in a.tables.items():
        other = b.tables[name]
        assert truth.rows == other.rows
        if truth.ids is not None:
            assert np.array_equal(truth.ids, other.ids)
    # the work a pass does is the same for every seed
    assert a.input_rows == c.input_rows
    assert sorted(_files(a.source)) == sorted(_files(c.source))


def test_corpus_generator_is_deterministic_per_seed(tmp_path):
    a = gen.gen_corpus(tmp_path / "a", 7, **TINY_CORPUS)
    b = gen.gen_corpus(tmp_path / "b", 7, **TINY_CORPUS)
    c = gen.gen_corpus(tmp_path / "c", 8, **TINY_CORPUS)
    assert a.path.read_bytes() == b.path.read_bytes()
    assert np.array_equal(a.survivors, b.survivors)
    assert a.path.read_bytes() != c.path.read_bytes()
    assert a.input_rows == c.input_rows == TINY_CORPUS["docs"]
    assert a.clusters == c.clusters


def test_cdc_truth_applies_last_writer_wins(tmp_path):
    inp = gen.gen_dms_snapshot(tmp_path, 3, **TINY_SNAPSHOT)
    src = inp.source / "customers"
    load = pa.concat_tables([pq.read_table(p) for p in sorted(src.glob("LOAD*.parquet"))]).to_pylist()
    cdc = pa.concat_tables([pq.read_table(p) for p in sorted(src.glob("2024*.parquet"))]).to_pylist()
    state = {r["id"]: r for r in load}
    for r in sorted(cdc, key=lambda r: r["_dms_ingestion_timestamp"]):  # the loop reference
        if r["Op"] == "D":
            state.pop(r["id"], None)
        else:
            state[r["id"]] = r
    kept = sorted(k for k, r in state.items() if r["status"] != gen.CLOSED)
    truth = inp.tables["customers"]
    assert list(truth.ids) == kept
    assert list(truth.status) == [state[k]["status"] for k in kept]


# ------------------------------------------------------------- event log


def _event_log(path: Path) -> Path:
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_000, "Stage IDs": [0, 1],
         "Stage Infos": [{"Stage Name": "a"}, {"Stage Name": "localCheckpoint at x"}],
         "Properties": {"spark.jobGroup.id": "operators.cdc"}},
        *[
            {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
                "Executor Run Time": 500, "Executor CPU Time": 250_000_000, "JVM GC Time": 10,
                "Disk Bytes Spilled": 0, "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1 << 20},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 2 << 20},
                "Input Metrics": {"Bytes Read": 4 << 20, "Records Read": 100},
                "Output Metrics": {"Bytes Written": 0, "Records Written": 0}}}
            for stage in (0, 0, 1)
        ],
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 12_000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 20_000, "Stage IDs": [2],
         "Stage Infos": [{"Stage Name": "b"}], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 100}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 21_000},
    ]
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return path


def test_event_log_rolls_up_a_known_job(tmp_path):
    log = EventLog(_event_log(tmp_path / "app"))
    jobs = log.jobs_in(Span("cdc", "operators.cdc", start=9.5, end=15.0))
    assert [j.job_id for j in jobs] == [0]
    assert jobs[0].group == "operators.cdc"
    a = log.aggregate(jobs)
    assert (a.jobs, a.tasks, a.result_tasks) == (1, 3, 1)
    assert a.run_s == pytest.approx(1.5)
    assert a.cpu_s == pytest.approx(0.75)
    assert a.shuffle_write_mb == pytest.approx(6.0)
    assert a.input_rows == 300
    assert a.busy_s == pytest.approx(2.0)
    both = log.aggregate(list(log.jobs.values()))
    assert (both.jobs, both.tasks) == (2, 4)
    assert both.busy_s == pytest.approx(3.0)


def test_union_of_overlapping_intervals():
    assert _union_seconds([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert _union_seconds([]) == 0.0


# ---------------------------------------------------------- output checks


def _good_snapshot_output(inp: gen.SnapshotInput, target: Path) -> None:
    """What a correct run writes, built from the truth with pyarrow."""
    for name, truth in inp.tables.items():
        dest = target / f"{name}.parquet"
        if not truth.anonymized:
            dest.mkdir(parents=True)
            for rel in truth.source_files:
                shutil.copyfile(inp.source / rel, dest / Path(rel).name)
            continue
        pk = "event_id" if name == "events" else "id"
        cols = {pk: pa.array(truth.ids)}
        cols.update({c: pa.array([f"fake-{i}" for i in truth.ids]) for c in truth.pii})
        if truth.status is not None:
            cols["status"] = pa.array(list(truth.status), pa.string())
        dest.mkdir(parents=True)
        pq.write_table(pa.table(cols), dest / "part-00000.parquet")


@pytest.fixture
def snapshot_case(tmp_path):
    inp = gen.gen_dms_snapshot(tmp_path / "in", 5, **TINY_SNAPSHOT)
    out = tmp_path / "out"
    _good_snapshot_output(inp, out)
    return inp, out


def test_snapshot_check_accepts_correct_output(snapshot_case):
    inp, out = snapshot_case
    assert checks.check_snapshot(inp, out) == {name: [] for name in inp.tables}


def _rewrite(path: Path, fn) -> None:
    part = next(path.glob("*.parquet"))
    pq.write_table(fn(pq.read_table(part)), part)


def test_snapshot_check_rejects_a_lost_row(snapshot_case):
    inp, out = snapshot_case
    _rewrite(out / "customers.parquet", lambda t: t.slice(1))
    assert checks.check_snapshot(inp, out)["customers"]


def test_snapshot_check_rejects_surviving_pii(snapshot_case):
    inp, out = snapshot_case
    src = pq.read_table(inp.source / "events.parquet")

    def leak(t):
        emails = t.column("user_email").to_pylist()
        emails[0] = src.column("user_email")[0].as_py()  # event 1 keeps its real email
        return t.set_column(t.schema.get_field_index("user_email"), "user_email", pa.array(emails))

    _rewrite(out / "events.parquet", leak)
    errs = checks.check_snapshot(inp, out)["events"]
    assert any("survive" in e for e in errs)


def test_snapshot_check_rejects_a_wrong_cdc_merge(snapshot_case):
    inp, out = snapshot_case

    def unmerge(t):
        status = t.column("status").to_pylist()
        status[0] = "closed" if status[0] != "closed" else "active"
        return t.set_column(t.schema.get_field_index("status"), "status", pa.array(status, pa.string()))

    _rewrite(out / "customers.parquet", unmerge)
    assert checks.check_snapshot(inp, out)["customers"]


def test_snapshot_check_rejects_a_changed_passthrough_copy(snapshot_case):
    inp, out = snapshot_case
    copy = next((out / "audit.parquet").glob("*.parquet"))
    copy.write_bytes(copy.read_bytes() + b"\0")
    assert checks.check_snapshot(inp, out)["audit"]


def _write_shards(root: Path, ids: np.ndarray) -> dict:
    root.mkdir(parents=True)
    pq.write_table(pa.table({"doc_id": pa.array(ids)}), root / "part-0.parquet")
    manifest = {"total_rows": len(ids), "shards": {}}
    (root / "_shard_manifest.json").write_text(json.dumps(manifest))
    return manifest


def test_corpus_check_accepts_the_planted_representatives(tmp_path):
    inp = gen.gen_corpus(tmp_path / "in", 5, **TINY_CORPUS)
    manifest = _write_shards(tmp_path / "shards", inp.survivors)
    assert checks.check_corpus(inp, tmp_path / "shards", manifest) == []


def test_corpus_check_rejects_a_split_cluster(tmp_path):
    inp = gen.gen_corpus(tmp_path / "in", 5, **TINY_CORPUS)
    # a missed near-duplicate edge keeps a non-minimal member of its cluster
    planted = np.setdiff1d(np.arange(inp.input_rows), inp.survivors)
    manifest = _write_shards(tmp_path / "shards", np.sort(np.append(inp.survivors, planted[0])))
    assert checks.check_corpus(inp, tmp_path / "shards", manifest)


def test_corpus_check_rejects_a_manifest_mismatch(tmp_path):
    inp = gen.gen_corpus(tmp_path / "in", 5, **TINY_CORPUS)
    manifest = _write_shards(tmp_path / "shards", inp.survivors)
    assert checks.check_corpus(inp, tmp_path / "shards", {**manifest, "total_rows": 1})
