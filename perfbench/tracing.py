"""Per-layer tracing for the benchmark, kept entirely in these files.

* Spans: the public entry points of each tsp_spark layer are wrapped
  while a Tracer is installed. A span records its layer, start, end,
  parent span, the operation it belongs to, the py4j round trips made
  inside it and the time its child spans cover. A call into a layer that
  is already open on the stack (the compiler calling itself) adds no
  span. Spans stay in memory and are written out at the end.
* py4j: the gateway client's ``send_command`` is wrapped with a counter.
* Spark jobs: each phase of an operation runs under its own job group;
  job, stage and task figures are read back from Spark's status store.

``NullTracer`` has the same interface and does nothing, so the untraced
pass runs the same workload code.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import statistics
import threading
import time
from dataclasses import asdict, dataclass
from pathlib import Path

# (layer, module, attribute) of every wrapped entry point. Modules that
# import a function by name get their own entry, so calls through either
# name are seen.
FUNCTIONS = [
    ("dsl", "tsp_spark.dsl.parser", "parse_pattern"),
    ("dsl", "tsp_spark.api", "parse_pattern"),
    ("compile", "tsp_spark.compile.compiler", "compile_pattern"),
    ("compile", "tsp_spark.compile", "compile_pattern"),
    ("compile", "tsp_spark.queries", "compile_pattern"),
    ("api", "tsp_spark.api", "search_incidents"),
    ("api", "tsp_spark.queries", "search_incidents"),
    ("api", "tsp_spark.streaming.job", "search_incidents"),
    ("streaming", "tsp_spark.streaming.job", "stateful_incidents"),
    ("io", "tsp_spark.api", "incidents_to_rows"),
    ("io", "tsp_spark.io.jdbc", "jdbc_sink"),
    ("io", "tsp_spark.io.jdbc", "jdbc_source"),
]
COMPILER_METHODS = [
    "__init__", "with_series", "compile_bool", "compile_intervals",
    "compile_intervals_multi",
]


@dataclass
class Span:
    id: int
    layer: str
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    trips: int = 0
    child_s: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass

    def span(self, layer: str, name: str | None = None):
        return contextlib.nullcontext()

    def op(self, index: int):
        return contextlib.nullcontext()

    def phase(self, name: str):
        return contextlib.nullcontext()


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.trips = 0
        self.op_trips: dict[int, int] = {}
        self.groups: dict[str, list[str]] = {}
        self._op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        self._ids = itertools.count()

    # -- installation -------------------------------------------------
    def install(self) -> None:
        for layer, module, attr in FUNCTIONS:
            self._patch(importlib.import_module(module), attr, layer)
        from tsp_spark.compile.compiler import PatternCompiler

        for attr in COMPILER_METHODS:
            self._patch(PatternCompiler, attr, "compile")
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def send_command(*args, **kwargs):
            with self._lock:
                self.trips += 1
            return send(*args, **kwargs)

        self._restore.append((client, "send_command", None))
        client.send_command = send_command

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._restore):
            if original is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)
        self._restore.clear()

    def _patch(self, owner, attr: str, layer: str) -> None:
        original = getattr(owner, attr)
        name = f"{getattr(owner, '__name__', owner)}.{attr}"

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return original(*args, **kwargs)

        self._restore.append((owner, attr, original))
        setattr(owner, attr, traced)

    # -- spans and operations -----------------------------------------
    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, layer: str, name: str | None = None):
        stack = self._stack()
        if any(s.layer == layer for s in stack):
            yield None
            return
        sp = Span(
            id=next(self._ids), layer=layer, name=name or layer,
            op=self._op, parent=stack[-1].id if stack else None,
            start=time.perf_counter(),
        )
        trips0 = self.trips
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()
            sp.trips = self.trips - trips0
            if stack:
                stack[-1].child_s += sp.seconds
            self.spans.append(sp)

    @contextlib.contextmanager
    def op(self, index: int):
        """One benchmark operation: a job, or one drop of the stream."""
        self._op = index
        trips0 = self.trips
        try:
            yield
        finally:
            self.op_trips[index] = self.trips - trips0
            self._op = None

    @contextlib.contextmanager
    def phase(self, name: str):
        """Run the enclosed Spark jobs under the job group ``op<i>.<name>``."""
        sc = self.spark.sparkContext
        group = f"perfbench.op{self._op}.{name}"
        self.groups.setdefault(name, []).append(group)
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    # -- read-back ----------------------------------------------------
    def layer_seconds(self, layer: str) -> float:
        return sum(s.seconds for s in self.spans if s.layer == layer)

    def layer_self_seconds(self, layer: str) -> float:
        return sum(s.seconds - s.child_s for s in self.spans if s.layer == layer)

    def layer_trips(self, layer: str) -> int:
        return sum(s.trips for s in self.spans if s.layer == layer)

    def layer_calls(self, layer: str) -> int:
        return sum(1 for s in self.spans if s.layer == layer)

    def spark_work(self, groups: list[str]) -> dict[str, float]:
        """Job, stage and task totals of every Spark job in ``groups``,
        read from the status store once the listener bus has drained."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        wanted = set(groups)
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            job = it.next()
            group = job.jobGroup()
            if group.isDefined() and group.get() in wanted:
                jobs.append(job)
        out = {
            "jobs": len(jobs), "job_s": 0.0, "stages": 0, "tasks": 0,
            "executor_run_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
            "task_skew": 1.0,
        }
        longest = None
        for job in jobs:
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1000
            ids = job.stageIds()
            for k in range(ids.size()):
                stage = store.lastStageAttempt(ids.apply(k))
                if stage.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                run_ms = stage.executorRunTime()
                out["stages"] += 1
                out["tasks"] += stage.numCompleteTasks()
                out["executor_run_s"] += run_ms / 1000
                out["shuffle_bytes"] += stage.shuffleWriteBytes()
                out["spill_bytes"] += stage.diskBytesSpilled()
                if longest is None or run_ms > longest[0]:
                    longest = (run_ms, stage.stageId(), stage.attemptId())
        if longest is not None:
            durations = []
            tasks = store.taskList(longest[1], longest[2], 1 << 30).iterator()
            while tasks.hasNext():
                d = tasks.next().duration()
                if d.isDefined():
                    durations.append(float(d.get()))
            med = statistics.median(durations) if durations else 0.0
            if med > 0:
                out["task_skew"] = max(durations) / med
        return out

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        doc = {"spans": [asdict(s) for s in self.spans], "op_trips": self.op_trips}
        doc.update(extra)
        path.write_text(json.dumps(doc, indent=1, default=str))


def overhead_pair(spark, run_pass):
    """Run ``run_pass(tracer)`` untraced and then traced, after the timed
    pass has warmed the same operations, so that the difference of the
    two is the tracing overhead. Returns (tracer, untraced, traced)."""
    base = run_pass(NullTracer())
    tr = Tracer(spark)
    tr.install()
    try:
        traced = run_pass(tr)
    finally:
        tr.uninstall()
    return tr, base, traced


def layer_metrics(
    tr: Tracer,
    n_ops: int,
    cores: int,
    action_groups: list[str],
    progress: list | None = None,
    sink_rows: int = 0,
) -> dict[str, float]:
    """Every per-layer metric of a traced pass. Times, counts and bytes
    are per operation (a job, or a drop of the stream); ratios and state
    sizes are over the whole pass. A layer the workload never calls
    reads 0."""
    per = 1.0 / n_ops
    eager = tr.spark_work(tr.groups.get("api", []))
    action = tr.spark_work(action_groups)
    action_s = tr.layer_seconds("action")
    sink_calls = tr.layer_calls("io")
    data = [p for p in progress or [] if p.numInputRows > 0]

    def mean_ms(values) -> float:
        values = list(values)
        return statistics.fmean(values) if values else 0.0

    def state(p, attr) -> int:
        return sum(getattr(s, attr) for s in p.stateOperators)

    return {
        "dsl.parse_s": tr.layer_seconds("dsl") * per,
        "dsl.calls": tr.layer_calls("dsl") * per,
        "compile.build_s": tr.layer_seconds("compile") * per,
        "compile.py4j_trips": tr.layer_trips("compile") * per,
        "api.call_s": tr.layer_seconds("api") * per,
        "api.self_s": tr.layer_self_seconds("api") * per,
        "api.eager_jobs": eager["jobs"] * per,
        "api.eager_s": eager["job_s"] * per,
        "action.s": action_s * per,
        "action.jobs": action["jobs"] * per,
        "action.stages": action["stages"] * per,
        "action.tasks": action["tasks"] * per,
        "action.executor_run_s": action["executor_run_s"] * per,
        "action.busy_ratio": (
            action["executor_run_s"] / (action_s * cores) if action_s else 0.0
        ),
        "action.task_skew": action["task_skew"],
        "action.shuffle_bytes": action["shuffle_bytes"] * per,
        "action.spill_bytes": action["spill_bytes"] * per,
        "streaming.add_batch_ms": mean_ms(p.durationMs.get("addBatch", 0) for p in data),
        "streaming.get_batch_ms": mean_ms(p.durationMs.get("getBatch", 0) for p in data),
        "streaming.state_rows": max((state(p, "numRowsTotal") for p in data), default=0),
        "streaming.state_bytes": max((state(p, "memoryUsedBytes") for p in data), default=0),
        "streaming.state_commit_ms": mean_ms(state(p, "commitTimeMs") for p in data),
        "io.sink_s": tr.layer_seconds("io") / sink_calls if sink_calls else 0.0,
        "io.sink_rows": sink_rows / sink_calls if sink_calls else 0.0,
        "io.sink_calls": sink_calls * per,
        "py4j.trips": sum(tr.op_trips.values()) * per,
    }
