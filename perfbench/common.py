"""Shared pieces of the CEP benchmark: run settings, the result record,
the end-to-end summary, set-up timing, memory readings and the Spark
session."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

T0 = time.perf_counter()

# Every Spark job, stage and task of a run stays in the status store, so
# the traced pass can read all of them back at the end.
STATUS_RETAINED = "20000"
SETUP_REPEATS = 3


@dataclass
class Run:
    """Settings of one benchmark invocation."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    scale: float
    work: Path
    cores: int


@dataclass
class Result:
    """What a workload measured: operation counts, end-to-end metrics
    (untraced) and, in a traced run, per-layer metrics."""

    attempted: int = 0
    failed: int = 0
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict[str, object] = field(default_factory=dict)


@dataclass
class Op:
    """One timed operation: a batch job, or one drop of the stream."""

    wall_s: float
    action_s: float
    rows_in: int
    ok: bool = True
    digest: str = ""


def op_metrics(ops: list[Op], batch_s: list[float] | None = None) -> dict[str, float]:
    """End-to-end latency and throughput over a pass. ``batch_s`` defaults
    to the final action of each operation. Throughput is the median of the
    operations' input rows per wall second, so that one operation stalled
    by the host does not move it."""
    walls = [o.wall_s for o in ops]
    batches = batch_s if batch_s is not None else [o.action_s for o in ops]
    return {
        "job_p50_s": float(np.quantile(walls, 0.5)),
        "job_p90_s": float(np.quantile(walls, 0.9)),
        "batch_p50_s": float(np.quantile(batches, 0.5)),
        "batch_p90_s": float(np.quantile(batches, 0.9)),
        "rows_per_s": float(np.median([o.rows_in / o.wall_s for o in ops])),
    }


def log(message: str) -> None:
    """Progress line on standard error, with seconds since start."""
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {message}", file=sys.stderr, flush=True)


def timed_setup(fn):
    """Run ``fn(i)`` SETUP_REPEATS times; return (median seconds, last result)."""
    times, out = [], None
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        out = fn(i)
        times.append(time.perf_counter() - t0)
    log(f"set-up x{SETUP_REPEATS}: " + ", ".join(f"{t:.2f}s" for t in times))
    return statistics.median(times), out


def deadline_loop(seconds: float):
    """Closed loop: yield operation indices until ``seconds`` have passed;
    the operation in flight finishes, and at least one runs."""
    end = time.perf_counter() + seconds
    i = 0
    while i == 0 or time.perf_counter() < end:
        yield i
        i += 1


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus its Spark JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def start_spark(cores: int, work: Path):
    """One driver at local[cores]; scratch files stay under ``work``."""
    from tsp_spark.session import get_spark

    logs = work / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
                f"-Dderby.system.home={work} "
                f"-Dderby.stream.error.file={logs / 'derby.log'}"
            ),
            "spark.ui.retainedJobs": STATUS_RETAINED,
            "spark.ui.retainedStages": STATUS_RETAINED,
            "spark.ui.retainedTasks": "200000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
        raise


def env_for_spark(root: Path, cores: int, work: Path) -> None:
    """Pin the session to this host's cores, let Python workers import
    the package from the checkout, and keep temporary files in ``work``."""
    (work / "tmp").mkdir()
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("TSP_SPARK_DRIVER_MEM", "2g")
    parts = [str(root), os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in parts if p)
