"""golden_jobs: the reference's golden corpus as single-pattern jobs.

53 patterns over 4 fixture configs (``tools/check_golden.py``) give 106
jobs; a fixed slate of them runs in seeded order. Each job is one
``search_incidents`` call plus a collect of its incidents, and is checked
against the golden incident count.
"""

from __future__ import annotations

import random
import sys
import time
import traceback
from dataclasses import dataclass

from common import Op, Result, Run, log, op_metrics, peak_rss_mb, timed_setup
from tracing import NullTracer, layer_metrics, overhead_pair

MAX_GAP_MS = 60_000
SESSION_GAP_MS = 1_000
# The narrow fixture lacks SpeedThrustMin = 11 entirely, so pattern 51
# cannot reach its golden count there (tests/test_golden_parity.py).
KNOWN_COUNT_FAILURES = {("narrow", 51)}
# Jobs differ up to 10x in cost, so a time-boxed run over a seed-chosen
# subset swings with the subset drawn. Every run therefore times whole
# rounds of the same slate, in an order drawn from the seed.
SLATE_SIZE = 12
MIN_ROUNDS = 2


@dataclass
class Frame:
    df: object
    keys: list[str]
    fields: dict[str, str]
    rows: int


@dataclass
class Job:
    config: str
    pid: int
    source: str
    want: int | None

    @property
    def kind(self) -> str:
        s = self.source.lower()
        if "andthen" in s:
            return "sequence"
        if any(w in s for w in ("wait(", " for ", "avg(", "lag(", "until")):
            return "window"
        return "row"


def load_frames(spark) -> dict[str, Frame]:
    from tools import check_golden as G

    frames = {}
    for config, (loader, _corpus) in G.CONFIGS.items():
        df, keys, fields = loader(spark)
        df = df.cache()
        frames[config] = Frame(df, keys, fields, df.count())
    return frames


def corpus_jobs() -> list[Job]:
    from tools import check_golden as G

    jobs = []
    for config, (_loader, corpus) in G.CONFIGS.items():
        patterns, counts, _intervals = G.golden(corpus)
        for p in patterns:
            pid = int(p["id"])
            jobs.append(Job(config, pid, p["sourceCode"], counts.get(pid)))
    return jobs


def slate(jobs: list[Job], size: int = SLATE_SIZE) -> list[Job]:
    """A fixed slice of the corpus with each pattern kind in proportion,
    spread evenly over the fixture configs and pattern ids."""
    out = []
    for kind in ("row", "window", "sequence"):
        members = sorted((j for j in jobs if j.kind == kind), key=lambda j: (j.config, j.pid))
        n = round(size * len(members) / len(jobs))
        out += [members[int((i + 0.5) * len(members) / n)] for i in range(n)]
    return out


def run_job(frames: dict[str, Frame], job: Job, tr: NullTracer, index: int) -> Op:
    from tsp_spark import api

    frame = frames[job.config]
    with tr.op(index):
        t0 = time.perf_counter()
        try:
            with tr.phase("api"):
                out = api.search_incidents(
                    frame.df, [api.RawPattern(job.pid, job.source)], frame.keys,
                    "ts", fields_types=frame.fields, max_gap_ms=MAX_GAP_MS,
                    session_gap_ms=SESSION_GAP_MS,
                )
            t1 = time.perf_counter()
            with tr.phase("action"), tr.span("action"):
                got = len(out.collect())
        except Exception:  # one failed job is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            return Op(time.perf_counter() - t0, 0.0, frame.rows, ok=False)
        t2 = time.perf_counter()
    ok = (
        job.want is None
        or got == job.want
        or (job.config, job.pid) in KNOWN_COUNT_FAILURES
    )
    if not ok:
        print(f"golden mismatch {job.config}/{job.pid}: {got} != {job.want}", file=sys.stderr)
    return Op(t2 - t0, t2 - t1, frame.rows, ok=ok)


def run(spark, ctx: Run) -> Result:
    state: dict[str, dict[str, Frame]] = {}

    def setup(_i: int) -> dict[str, Frame]:
        for frame in state.get("frames", {}).values():
            frame.df.unpersist(blocking=True)
        state["frames"] = load_frames(spark)
        return state["frames"]

    setup_s, frames = timed_setup(setup)
    jobs = slate(corpus_jobs())
    null = NullTracer()
    rng = random.Random(ctx.seed)

    def round_of_jobs(tr: NullTracer, order: list[Job], first: int) -> list[Op]:
        return [run_job(frames, job, tr, first + i) for i, job in enumerate(order)]

    warm = round_of_jobs(null, jobs, 0)
    log("warm-up done")
    # at least two whole rounds, then more while the next one is expected
    # to end within the window
    order: list[Job] = []
    ops: list[Op] = []
    end = time.perf_counter() + ctx.seconds
    round_s = sum(o.wall_s for o in warm)
    while len(ops) < MIN_ROUNDS * len(jobs) or time.perf_counter() + round_s <= end:
        batch = rng.sample(jobs, len(jobs))
        order += batch
        t0 = time.perf_counter()
        ops += round_of_jobs(null, batch, len(ops))
        round_s = time.perf_counter() - t0
    log(f"timed pass, job seconds: {[round(o.wall_s, 2) for o in ops]}")
    res = Result(attempted=len(ops), failed=sum(not o.ok for o in ops))
    res.e2e = {"setup_s": setup_s, **op_metrics(ops), "peak_rss_mb": peak_rss_mb(spark)}

    if ctx.trace:
        tr, base, traced = overhead_pair(spark, lambda t: round_of_jobs(t, order, 0))
        res.attempted += len(base) + len(traced)
        res.failed += sum(not o.ok for o in base + traced)
        res.layers = layer_metrics(tr, len(traced), ctx.cores, tr.groups["action"])
        res.notes.update(base_ops=base, traced_ops=traced, tracer=tr)
    return res
