"""The traced run: per-layer metrics from spans and the Spark event log.

After the untraced timed window, the session is restarted in the same
(warm) JVM with the event log on. The run then makes traced complete
passes (for job counts and the tracing overhead) and traced prefix stages
(for each layer's self time, CPU, shuffle and spill), and finally untraced
passes in a session without the event log as the overhead reference. A
layer's self time is its stage's wall time minus the previous stage's.
"""

from __future__ import annotations

import statistics
from pathlib import Path

from probes import EventLog, Tracer, find_event_log

PER_LAYER = (
    "session.start_s", "session.warmup_s", "session.gc_s",
    "runner.jobs", "runner.jobs_per_table", "runner.tasks", "runner.driver_s", "runner.idle_pct",
    "sources.parquet.list_s", "sources.parquet.self_s", "sources.parquet.files",
    "sources.parquet.scan_mb", "sources.parquet.scan_rows",
    "operators.cdc.self_s", "operators.cdc.cpu_s", "operators.cdc.shuffle_mb",
    "operators.cdc.rows_in", "operators.cdc.rows_out",
    "plans.pipeline.plan_s", "plans.pipeline.self_s", "plans.pipeline.cpu_s",
    "sinks.parquet.self_s", "sinks.parquet.files", "sinks.parquet.tasks", "sinks.parquet.out_mb",
    "operators.dedup.exact_s", "operators.dedup.minhash_s", "operators.dedup.minhash_cpu_s",
    "operators.dedup.candidates", "operators.dedup.verify_s", "operators.dedup.verify_cpu_s",
    "operators.dedup.verify_yield", "operators.dedup.shuffle_mb", "operators.dedup.spill_mb",
    "operators.cluster.rounds", "operators.cluster.jobs", "operators.cluster.self_s", "operators.cluster.idle_pct",
    "operators.text.self_s", "operators.text.cpu_s",
    "sinks.shards.self_s", "sinks.shards.jobs", "sinks.shards.out_mb",
    "trace.rows_per_s_untraced", "trace.rows_per_s_traced", "trace.overhead_pct",
    "trace.attributed_s", "trace.unattributed_s", "trace.unattributed_pct",
)

UNITS = {"_s": "s", "_pct": "%", "_mb": "MB", "rows": "rows", "yield": "ratio", "per_table": "jobs/table"}


def unit(name: str) -> str:
    if name.startswith("trace.rows_per_s"):
        return "rows/s"
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(spark, run, wl, work: Path, detail: dict, session_start: float, warmup_s: float,
              setup_gc: float, cpus: int, repeats: int, restart) -> dict:
    """Every PER_LAYER metric as {name: (value, unit)}. Layers a workload
    does not use read 0."""
    log_dir = work / "eventlog"
    log_dir.mkdir(parents=True)
    spark = restart(spark, log_dir)
    tracer = Tracer(spark)
    _, out = run.one_pass(spark)  # first pass of the new session stays outside the spans
    run.drop(out)

    pass_spans, selfs, counts = [], [], []
    for i in range(repeats):
        out = work / "traced" / f"pass{i}"
        wl.traced_pass(spark, tracer, out)
        pass_spans.append(tracer.spans[-1])
        run.drop(out)
    first_stage = len(tracer.spans)
    for i in range(repeats):
        out = work / "traced" / f"stages{i}"
        s, c = wl.traced_stages(spark, tracer, out)
        selfs.append(s)
        counts.append(c)
        run.drop(out)
    # the untraced reference comes after the traced passes, so the JIT is
    # at least as warm for it and the overhead is not understated
    spark = restart(spark, None)  # also flushes and closes the event log
    _, out = run.one_pass(spark)  # as above: the new session's first pass is not compared
    run.drop(out)
    untraced_walls = []
    for _ in range(repeats):
        wall, out = run.one_pass(spark)
        untraced_walls.append(wall)
        run.drop(out)
    log = EventLog(find_event_log(log_dir))

    def agg(name: str, spans=None):
        """Median over repeats of the event-log totals of spans called ``name``."""
        spans = [s for s in (spans if spans is not None else tracer.spans[first_stage:]) if s.name == name]
        return [log.aggregate(log.jobs_in(s)) for s in spans], spans

    def med(aggs, field):
        return _med([getattr(a, field) for a in aggs])

    def diff(field, name, prev):
        return med(agg(name)[0], field) - med(agg(prev)[0], field)

    self_s = {k: _med([s[k] for s in selfs]) for k in selfs[0]}
    count = {k: _med([c[k] for c in counts]) for k in counts[0]}
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = session_start
    m["session.warmup_s"] = warmup_s
    m["session.gc_s"] = setup_gc

    untraced = _med(untraced_walls)
    traced = _med([s.seconds for s in pass_spans])
    m["trace.rows_per_s_untraced"] = wl.input_rows / untraced
    m["trace.rows_per_s_traced"] = wl.input_rows / traced
    m["trace.overhead_pct"] = 100 * (1 - untraced / traced)
    m["trace.attributed_s"] = sum(self_s.values())
    m["trace.unattributed_s"] = untraced - m["trace.attributed_s"]
    m["trace.unattributed_pct"] = 100 * m["trace.unattributed_s"] / untraced

    scan_aggs, _ = agg("sources.parquet" if "sources.parquet.list" in self_s else "scan")
    m["sources.parquet.self_s"] = self_s["sources.parquet"]
    # Spark's task input metrics count only footer bytes for local Parquet
    # files, so the scanned size comes from the files the scan opened
    m["sources.parquet.scan_mb"] = count["scan_bytes"] / 2**20
    m["sources.parquet.scan_rows"] = med(scan_aggs, "input_rows")

    if "sources.parquet.list" in self_s:  # the DMS runner workloads
        runner = [log.aggregate(log.jobs_in(s)) for s in pass_spans]
        tables = len(wl.anonymized())
        m["runner.jobs"] = med(runner, "jobs")
        m["runner.jobs_per_table"] = m["runner.jobs"] / tables
        m["runner.tasks"] = med(runner, "tasks")
        m["runner.driver_s"] = _med([s.seconds - a.busy_s for s, a in zip(pass_spans, runner)])
        m["runner.idle_pct"] = _med([100 * (1 - a.run_s / (s.seconds * cpus)) for s, a in zip(pass_spans, runner)])
        m["sources.parquet.list_s"] = self_s["sources.parquet.list"]
        m["sources.parquet.files"] = count["files"]
        m["operators.cdc.self_s"] = self_s["operators.cdc"]
        m["operators.cdc.cpu_s"] = diff("cpu_s", "operators.cdc", "sources.parquet")
        m["operators.cdc.shuffle_mb"] = diff("shuffle_write_mb", "operators.cdc", "sources.parquet")
        m["operators.cdc.rows_in"] = count.get("cdc_rows_in", 0)
        m["operators.cdc.rows_out"] = count.get("cdc_rows_out", 0)
        m["plans.pipeline.plan_s"] = count["plan_s"]
        m["plans.pipeline.self_s"] = self_s["plans.pipeline"]
        m["plans.pipeline.cpu_s"] = diff("cpu_s", "plans.pipeline", "operators.cdc")
        sink_aggs, _ = agg("sinks.parquet")
        m["sinks.parquet.self_s"] = self_s["sinks.parquet"]
        m["sinks.parquet.files"] = count["sink_files"]
        m["sinks.parquet.tasks"] = med(sink_aggs, "result_tasks")
        m["sinks.parquet.out_mb"] = med(sink_aggs, "output_mb")
    else:  # the curation chain
        m["sources.parquet.files"] = 1
        m["operators.dedup.exact_s"] = self_s["operators.dedup.exact"]
        m["operators.dedup.minhash_s"] = self_s["operators.dedup.minhash"]
        m["operators.dedup.verify_s"] = self_s["operators.dedup.verify"]
        m["operators.dedup.minhash_cpu_s"] = diff("cpu_s", "minhash", "exact")
        m["operators.dedup.verify_cpu_s"] = diff("cpu_s", "verify", "minhash")
        m["operators.dedup.candidates"] = count["candidates"]
        m["operators.dedup.verify_yield"] = count["verified"] / max(1, count["candidates"])
        verify_aggs, _ = agg("verify")
        m["operators.dedup.shuffle_mb"] = med(verify_aggs, "shuffle_write_mb")
        m["operators.dedup.spill_mb"] = med(verify_aggs, "spill_mb")
        cluster_aggs, cluster_spans = agg("cluster", tracer.spans[:first_stage])
        m["operators.cluster.jobs"] = med(cluster_aggs, "jobs")
        # one lineage-truncating checkpoint per round, plus one for the edge set
        m["operators.cluster.rounds"] = _med([
            sum(1 for j in log.jobs_in(s) if any("heckpoint at" in n for n in j.stage_names)) - 1
            for s in cluster_spans
        ])
        m["operators.cluster.idle_pct"] = _med([
            100 * (1 - a.run_s / (s.seconds * cpus)) for s, a in zip(cluster_spans, cluster_aggs)
        ])
        m["operators.cluster.self_s"] = self_s["operators.cluster"]
        m["operators.text.self_s"] = self_s["operators.text"]
        m["operators.text.cpu_s"] = diff("cpu_s", "text", "keep")
        shard_aggs, _ = agg("shards", tracer.spans[:first_stage])
        m["sinks.shards.self_s"] = self_s["sinks.shards"]
        m["sinks.shards.jobs"] = med(shard_aggs, "jobs")
        m["sinks.shards.out_mb"] = med(shard_aggs, "output_mb")

    detail["trace"] = {
        "self_s": self_s,
        "counts": count,
        "traced_pass_walls_s": [s.seconds for s in pass_spans],
        "untraced_pass_walls_s": untraced_walls,
        "spans": [(s.name, s.layer, s.parent, round(s.seconds, 4)) for s in tracer.spans],
        "jobs_by_group": _jobs_by_group(log),
    }
    return {k: (v, unit(k)) for k, v in m.items()}


def _jobs_by_group(log: EventLog) -> dict[str, int]:
    out: dict[str, int] = {}
    for j in log.jobs.values():
        out[j.group or "-"] = out.get(j.group or "-", 0) + 1
    return out
