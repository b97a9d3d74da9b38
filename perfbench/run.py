"""CEP benchmark of tsp_spark.

    python3 perfbench/run.py --workload golden_jobs --seed 1 --seconds 10 --trace 0

Workloads: golden_jobs, fleet_wide, stream_replay (see README.md). One
driver process runs Spark at local[<cores of this host>] with one client
in a closed loop. Every metric is printed as ``metric <name> <value>
<unit>`` (a traced run prints both sets); the last line of standard output is one JSON object with the
keys correct, attempted, failed and metrics. With ``--trace 0`` the
metrics are the end-to-end ones. With ``--trace 1`` the same operations
then run once more untraced and once traced; the metrics are the
per-layer ones of the traced pass plus the tracing overhead (traced minus
untraced), and the spans are written to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

E2E_UNITS = {
    "setup_s": "s",
    "job_p50_s": "s",
    "job_p90_s": "s",
    "batch_p50_s": "s",
    "batch_p90_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "dsl.parse_s": "s",
    "dsl.calls": "count",
    "compile.build_s": "s",
    "compile.py4j_trips": "count",
    "api.call_s": "s",
    "api.self_s": "s",
    "api.eager_jobs": "count",
    "api.eager_s": "s",
    "action.s": "s",
    "action.jobs": "count",
    "action.stages": "count",
    "action.tasks": "count",
    "action.executor_run_s": "s",
    "action.busy_ratio": "ratio",
    "action.task_skew": "ratio",
    "action.shuffle_bytes": "bytes",
    "action.spill_bytes": "bytes",
    "streaming.add_batch_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "io.sink_s": "s",
    "io.sink_rows": "count",
    "io.sink_calls": "count",
    "py4j.trips": "count",
    "trace.overhead_s": "s",
    "trace.overhead_pct": "%",
}
WORKLOADS = ("golden_jobs", "fleet_wide", "stream_replay")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor; below 1 only for smoke tests")
    return p.parse_args(argv)


def overhead(untraced, traced) -> dict[str, float]:
    """Mean operation wall time, traced minus untraced, over the same ops."""
    base = statistics.fmean(o.wall_s for o in untraced)
    diff = statistics.fmean(o.wall_s for o in traced) - base
    return {"trace.overhead_s": diff, "trace.overhead_pct": 100.0 * diff / base}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "tsp_spark" / "__init__.py").is_file():
        print(f"tsp_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    import common

    cores = len(os.sched_getaffinity(0))
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    common.env_for_spark(ROOT, cores, work)
    ctx = common.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                     args.scale, work, cores)
    try:
        spark = common.start_spark(cores, work)
        common.log(f"spark up at local[{cores}]")
        try:
            if args.workload == "golden_jobs":
                import golden as workload
            elif args.workload == "fleet_wide":
                import fleet as workload
            else:
                import stream as workload
            res = workload.run(spark, ctx)
        finally:
            common.stop_spark(spark)
            common.log("spark stopped")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if ctx.trace:
        res.layers.update(overhead(res.notes["base_ops"], res.notes["traced_ops"]))
        out = HERE / "results" / f"trace-{args.workload}-{args.seed}.json"
        res.notes["tracer"].write(out, {"workload": args.workload, "seed": args.seed,
                                        "cores": cores, "layers": res.layers})
    print(f"workload {args.workload} seed {args.seed} master local[{cores}] "
          f"cores {cores} trace {args.trace}")
    printed = {**E2E_UNITS, **LAYER_UNITS} if ctx.trace else E2E_UNITS
    for name, unit in printed.items():
        print(f"metric {name} {res.e2e.get(name, res.layers.get(name))!r} {unit}")
    values, units = (res.layers, LAYER_UNITS) if ctx.trace else (res.e2e, E2E_UNITS)
    print(f"failed_ratio {res.failed / res.attempted!r} ({res.failed}/{res.attempted})")
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
