"""Benchmark of the engine's user-facing work: the DMS snapshot runner and
the near-duplicate curation chain.

    python3 perfbench/run.py --workload dms_snapshot --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates its inputs from the seed
(before any clock starts), starts one Spark session, runs warm-up passes,
then times complete passes for ``--seconds``, checks the last pass's output
against the generator's truth, and prints one JSON line last. With
``--trace 0`` it reports the end-to-end metrics; with ``--trace 1`` it
also restarts the session with a Spark event log and reports per-layer
metrics. See perfbench/README.md for what each number means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CPUS = 4
DRIVER_MEMORY = "2g"
TRACE_REPEATS = 2

# Per workload: generator sizes, warm-up passes, and the fewest timed passes
# a median is taken over. A process's first passes run cold (JIT, codegen,
# py4j caches) and driver-side plan building keeps getting faster for many
# passes. dms_snapshot warms its plans cheaply on a 1/20-size copy of its
# inputs (same generator, seed, config and file layout) before full-size
# warm-ups. corpus_dedup passes cost the same at any size (their time is
# Spark job scheduling), so it warms at full size only; its driver-side
# scheduling code still speeds up over the first ~8 passes, and host CPU
# steal stretches its job latencies, so it warms longer and takes its median
# over more passes.
WORKLOADS = {
    "dms_snapshot": {
        "size": {"customers": 60_000, "events": 100_000, "audit": 25_000},
        "small_warmups": 3, "warmups": 2, "min_passes": 3,
    },
    "corpus_dedup": {
        "size": {"docs": 500, "stars": 6},
        "small_warmups": 0, "warmups": 5, "min_passes": 5,
    },
}
SMALL_SCALE = 20
SCALED = ("customers", "events", "audit", "docs")  # planted structure (stars, chains) does not scale


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _configure_env(work: Path) -> None:
    """Pin the session shape so that every commit runs identical settings,
    and keep every file Spark and Python write inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_GRAFT_MATERIALIZE", None)
    os.environ.pop("UPLOAD_ANONYMIZED_FILES", None)
    # initial heap = max heap: heap growth, and so GC frequency and RSS, no
    # longer follow GC timing
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} "
        f'--driver-java-options "{java_opts} -Dderby.system.home={work}" pyspark-shell'
    )


def _make_workload(name: str, seed: int, data: Path, scale: int = 1):
    import gen
    import workloads

    size = {k: v // scale if k in SCALED else v for k, v in WORKLOADS[name]["size"].items()}
    if name == "dms_snapshot":
        return workloads.Snapshot(gen.gen_dms_snapshot(data, seed, **size))
    return workloads.Curation(gen.gen_corpus(data, seed, **size))


class Run:
    """Passes of one workload in this process, with their operation counters."""

    def __init__(self, wl, work: Path):
        self.wl = wl
        self.work = work
        self.attempted = 0
        self.failures: list[str] = []
        self.pass_no = 0

    def one_pass(self, spark) -> tuple[float, Path]:
        out = self.work / "out" / f"p{self.pass_no}"
        self.pass_no += 1
        t0 = time.perf_counter()
        n, errs = self.wl.run(spark, out)
        wall = time.perf_counter() - t0
        self.attempted += n
        self.failures += errs
        return wall, out

    @staticmethod
    def drop(out: Path) -> None:
        shutil.rmtree(out, ignore_errors=True)


def _gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000


def _shutdown() -> None:
    """Stop any live SparkContext and its JVM, and wait until the JVM has
    exited; safe to call when no session was started."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _restart(spark, log_dir: Path | None):
    """A fresh SparkContext in the same (warm) JVM, writing a Spark event
    log to ``log_dir`` or, with None, none."""
    from rustic_witcher_spark.session import get_spark

    system = spark._jvm.java.lang.System
    spark.stop()
    system.setProperty("spark.eventLog.enabled", "true" if log_dir else "false")
    if log_dir:
        system.setProperty("spark.eventLog.rolling.enabled", "false")
        system.setProperty("spark.eventLog.compress", "false")
        system.setProperty("spark.eventLog.dir", log_dir.as_uri())
    return get_spark("perfbench")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work)
    sys.path.insert(0, str(ROOT))
    try:
        return _bench(args, work)
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass


def _bench(args, work: Path) -> int:
    # imported here: the engine must come from this checkout (ROOT on sys.path)
    from bench import _cpu_pcts, _cpu_sample  # host-noise record, shared with bench.py
    from rustic_witcher_spark.session import get_spark
    from probes import reset_peak_rss, tree_cpu_s, tree_peak_rss_mb

    cfg = WORKLOADS[args.workload]
    wl = _make_workload(args.workload, args.seed, work / "data")
    run = Run(wl, work)
    small = Run(_make_workload(args.workload, args.seed, work / "data-small", SMALL_SCALE), work)
    reset_peak_rss()

    # ---- set-up: session start + warm-up passes (input generation is done)
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(1).count()
    session_start = time.perf_counter() - t0
    warm_walls = []
    for _ in range(cfg["small_warmups"]):
        wall, out = small.one_pass(spark)
        warm_walls.append(wall)
        small.drop(out)
    for _ in range(cfg["warmups"]):
        wall, out = run.one_pass(spark)
        warm_walls.append(wall)
        run.drop(out)
    setup_s = time.perf_counter() - t0
    setup_gc = _gc_seconds(spark)
    run.attempted += small.attempted
    run.failures += small.failures

    # ---- timed window: complete warm passes for --seconds
    walls, cpus, noise = [], [], []
    last_out = None
    t_start = time.perf_counter()
    while len(walls) < cfg["min_passes"] or time.perf_counter() - t_start < args.seconds:
        if last_out is not None:
            run.drop(last_out)
        c0, h0 = tree_cpu_s(), _cpu_sample()
        wall, last_out = run.one_pass(spark)
        cpus.append(tree_cpu_s() - c0)
        walls.append(wall)
        noise.append(_cpu_pcts(h0, _cpu_sample()))

    peak_rss_mb = tree_peak_rss_mb()  # before the checks load the output into this process

    # ---- output checks (outside the timed window)
    write_amp = wl.written_bytes(last_out) / wl.input_bytes
    n, errs = wl.check(last_out)
    run.attempted += n
    run.failures += errs
    run.drop(last_out)

    rows_per_s = wl.input_rows / _median(walls)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "input_rows": wl.input_rows,
        "input_mb": round(wl.input_bytes / 2**20, 3),
        "session_start_s": session_start,
        "warmup_walls_s": warm_walls,
        "pass_walls_s": walls,
        "pass_cpu_s": cpus,
        "pass_host_noise": noise,
        "failures": run.failures[:20],
    }
    if args.trace:
        import tracing

        metrics = tracing.per_layer(
            spark, run, wl, work, detail, session_start, sum(warm_walls), setup_gc,
            cpus=CPUS, repeats=TRACE_REPEATS, restart=_restart,
        )
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "rows_per_s": (rows_per_s, "rows/s"),
            "cpu_s": (_median(cpus), "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
            "write_amp": (write_amp, "ratio"),
        }
    _shutdown()

    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
