"""fleet_wide: the 7-pattern flagship job over a dense generated fleet.

The fleet uses the ``events`` schema, so ``QUERIES["cep_incidents_multi"]``
and its DuckDB oracle apply unchanged. The first (warm-up) job is checked
against the oracle; every timed job must then give the same incident
digest.
"""

from __future__ import annotations

import hashlib
import sys
import time
import traceback

import pyarrow.parquet as pq

import gen
from common import Op, Result, Run, deadline_loop, log, op_metrics, peak_rss_mb, timed_setup
from tracing import NullTracer, layer_metrics, overhead_pair

QUERY = "cep_incidents_multi"
UNITS = 12
HOURS = 4.0


def run_job(spark, data_dir: str, rows_in: int, tr: NullTracer, index: int):
    """One flagship job; returns (Op, collected rows, column names)."""
    from tsp_spark import queries

    with tr.op(index):
        t0 = time.perf_counter()
        try:
            with tr.phase("api"):
                df = queries.QUERIES[QUERY](spark, data_dir)
            t1 = time.perf_counter()
            with tr.phase("action"), tr.span("action"):
                rows = df.collect()
        except Exception:  # one failed job is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            return Op(time.perf_counter() - t0, 0.0, rows_in, ok=False), [], []
        t2 = time.perf_counter()
    digest = hashlib.sha256(repr(sorted(map(tuple, rows))).encode()).hexdigest()
    return Op(t2 - t0, t2 - t1, rows_in, digest=digest), rows, df.columns


def oracle_problems(data_dir: str, rows, columns) -> list[str]:
    import duckdb
    import pandas as pd

    from tools.check_oracle import compare
    from tsp_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{data_dir}/events.parquet'")
        want = con.execute(ORACLES[QUERY]).df()
    finally:
        con.close()
    got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
    return compare(QUERY, got, want)


def run(spark, ctx: Run) -> Result:
    table = gen.fleet_events(ctx.seed, UNITS, HOURS * ctx.scale)

    def setup(i: int) -> str:
        path = ctx.work / f"fleet{i}"
        path.mkdir()
        pq.write_table(table, path / "events.parquet")
        spark.read.parquet(str(path)).count()
        return str(path)

    setup_s, data_dir = timed_setup(setup)
    rows_in = table.num_rows
    null = NullTracer()
    # the warm-up job fills the auto-probe cache and the JIT; its incidents
    # are the ones checked against the oracle, after the timed pass
    ref, rows, columns = run_job(spark, data_dir, rows_in, null, -1)
    log("warm-up done")
    ops = [run_job(spark, data_dir, rows_in, null, i)[0] for i in deadline_loop(ctx.seconds)]
    log(f"timed pass, job seconds: {[round(o.wall_s, 2) for o in ops]}")
    e2e = {"setup_s": setup_s, **op_metrics(ops), "peak_rss_mb": peak_rss_mb(spark)}

    problems = oracle_problems(data_dir, rows, columns) if ref.ok else ["warm-up job failed"]
    for p in problems:
        print(f"oracle mismatch: {p}", file=sys.stderr)

    def checked(op: Op) -> Op:
        op.ok = op.ok and not problems and op.digest == ref.digest
        return op

    log("oracle checked")
    ops = [checked(o) for o in ops]
    res = Result(attempted=len(ops), failed=sum(not o.ok for o in ops), e2e=e2e)

    if ctx.trace:
        def again(tr: NullTracer) -> list[Op]:
            return [checked(run_job(spark, data_dir, rows_in, tr, i)[0]) for i in range(len(ops))]

        tr, base, traced = overhead_pair(spark, again)
        res.attempted += len(base) + len(traced)
        res.failed += sum(not o.ok for o in base + traced)
        res.layers = layer_metrics(tr, len(traced), ctx.cores, tr.groups["action"])
        res.notes.update(base_ops=base, traced_ops=traced, tracer=tr)
    return res
