"""Optimization-loop helper: time named registry entries in ONE shared
JVM (warm pass at sf0.01, then best-of-N at the bench SF with the noop
sink — bench.py's methodology), and/or dump .explain("formatted") to a
file per entry.

Usage:
    python scripts/opt_bench.py [--sf DIR] [--runs N] [--plans OUTDIR] name [name ...]
    python scripts/opt_bench.py --plans plans/r12 --suffix _before containment_near_dups

Not part of the driver contract — bench.py stays the only line the
driver parses. This exists so the optimize-measure loop does not pay a
fresh JVM per iteration (guide §1: measure first, measure often).
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import timed_noop
from rustic_witcher_spark.queries import build_registry
from rustic_witcher_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dir to write explain('formatted') per entry")
    ap.add_argument("--suffix", default="", help="filename suffix for plan dumps, e.g. _before")
    ap.add_argument("--no-time", action="store_true", help="only dump plans")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    spark = get_spark("opt-bench")
    registry = build_registry()
    spark.range(1).count()

    warm_dir = "/root/testdata/sf0.01"
    for name in args.names:
        fn, _ = registry[name]
        if args.plans:
            outdir = Path(args.plans)
            outdir.mkdir(parents=True, exist_ok=True)
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            (outdir / f"{name}{args.suffix}.txt").write_text(plan)
            print(f"plan -> {outdir / (name + args.suffix + '.txt')}")
        if args.no_time:
            continue
        if os.path.isdir(warm_dir) and warm_dir != args.sf:
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        runs = []
        runs_jobs, runs_steal, runs_idle = [], [], []
        for _ in range(args.runs):
            j0 = max(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [-1])
            dt, pcts = timed_noop(fn, spark, args.sf)
            runs.append(dt)
            j1 = max(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [-1])
            runs_jobs.append(j1 - j0)
            runs_steal.append(pcts.get("steal_pct"))
            runs_idle.append(pcts.get("idle_pct"))
        print(
            f"{name}: best={min(runs)} runs={runs} jobs={runs_jobs} "
            f"steal={runs_steal} idle={runs_idle}"
        )


if __name__ == "__main__":
    main()
