"""CDC ingest benchmark.

    python3 perfbench/run.py --workload stream_upsert --seed 1 --seconds 24 --trace 0

Run from the repository root. Prints one detail JSON line (sample counts,
batch kinds, gates, traced end-to-end figures) and, as the last line, the
result: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, taken
in a separate traced run. Scratch files go to .perfbench_scratch/ under the
repository root; generated inputs are cached there per seed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, for the self-check only")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mariadb_cdc_spark")):
        print("engine sources (mariadb_cdc_spark/) not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import report, session, workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # Python UDF workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    scratch = os.path.join(ROOT, ".perfbench_scratch")
    work = os.path.join(scratch, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    detail: dict = {}
    metrics: dict = {}
    t0 = time.perf_counter()
    spark = session.start(scratch)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark).install() if args.trace else None
        run = workloads.Run(spark, args.seed, args.seconds, scratch, work,
                            args.smoke, tracer)
        run.info["session_s"] = session_s
        try:
            workloads.WORKLOADS[args.workload](run)
        except Exception:
            traceback.print_exc()
            run.ops.attempted += 1
            run.ops.failed += 1
            run.ops.problems.append("workload raised; see stderr")
        if tracer is not None:
            tracer.restore()
        run.add("peak_rss_mb", session.peak_rss_mb(spark))
        metrics, detail = report.end_to_end(run)
        if tracer is not None:
            detail["traced_end_to_end"] = {k: v["value"] for k, v in metrics.items()}
            metrics = run.ops.run("per-layer", lambda: report.per_layer(run)) or {}
    finally:
        session.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    detail.update(
        workload=args.workload, seed=args.seed, trace=args.trace,
        problems=run.ops.problems[:20],
    )
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": run.ops.failed == 0,
        "attempted": run.ops.attempted,
        "failed": run.ops.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
