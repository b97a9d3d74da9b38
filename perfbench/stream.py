"""stream_replay: a fleet series replayed as chronological parquet drops.

Each drop is one file, read with ``maxFilesPerTrigger=1`` and searched by
``stateful_incidents``; every micro-batch's incidents go through
``incidents_to_rows`` and ``jdbc_sink`` into embedded Derby. The loop is
closed: the next drop lands once the stream has processed the previous
one. A flush drop one day later closes every open series. The Derby
table is then read back with ``jdbc_source``, sessionized, and compared
with a batch ``search_incidents`` over the same rows.
"""

from __future__ import annotations

import os
import sys
import time

import pyarrow.parquet as pq

import gen
from common import Op, Result, Run, log, op_metrics, peak_rss_mb, timed_setup
from tracing import NullTracer, layer_metrics, overhead_pair

UNITS = 16
DROP_S = 300
MAX_GAP_MS = 60_000
SESSION_GAP_MS = 2_000
DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
KEYS = ["user_id"]
FIELDS = {"value": "float64", "event_type": "string"}
# The paper's ``avg(value, 5 sec) > X for 10 min andThen max(value, 20 sec)
# > Y`` runs here as its two halves: the incremental kernel rejects a
# timer over a windowed aggregate as an andThen operand.
PATTERN_SOURCES = {
    1: "avg(value, 5 sec) > 85 for 10 min",
    2: "avg(value, 5 sec) > 85 andThen max(value, 20 sec) > 160",
    3: "value > 150",
    4: "value > 120 for 30 sec",
}
REPLAYS = ("warm", "main", "base", "traced")


def patterns():
    from tsp_spark.api import RawPattern

    return [RawPattern(pid, src) for pid, src in PATTERN_SOURCES.items()]


def spark_schema(spark, staging):
    return spark.read.parquet(str(staging / "d0000.parquet")).schema


def derby_url(ctx: Run, setup_index: int) -> str:
    return f"jdbc:derby:{ctx.work / f'derby{setup_index}'};create=true"


def sink_conf(url: str, replay: str):
    from tsp_spark.io.conf import JDBCOutputConf

    return JDBCOutputConf(table_name=f"incidents_{replay}", jdbc_url=url, driver_name=DRIVER)


def replay(spark, ctx: Run, staging, names, url, name, tr, deadline=None, flush=True):
    """Run one stream query, landing ``names`` one by one (until
    ``deadline``, if given, with at least two drops) and then the flush
    drop. Returns (ops, progress, run id)."""
    from tsp_spark import api
    from tsp_spark.io import jdbc
    from tsp_spark.streaming import job as streaming

    src, chk = ctx.work / f"src-{name}", ctx.work / f"chk-{name}"
    src.mkdir()
    conf = sink_conf(url, name)

    def sink(batch_df, _batch_id):
        with tr.span("io", "sink"):
            jdbc.jdbc_sink(api.incidents_to_rows(batch_df, "user_id"), conf, mode="append")

    stream = (
        spark.readStream.schema(spark_schema(spark, staging))
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    job = streaming.StreamingPatternJob(
        patterns(), KEYS, "ts", fields_types=FIELDS,
        events_max_gap_ms=MAX_GAP_MS, session_gap_ms=SESSION_GAP_MS,
    )
    incidents = streaming.stateful_incidents(stream, job)
    q = incidents.writeStream.foreachBatch(sink).option("checkpointLocation", str(chk)).start()

    def land(file: str, index: int) -> Op:
        os.link(staging / file, src / file)
        with tr.op(index), tr.span("action"):
            t0 = time.perf_counter()
            q.processAllAvailable()
            wall = time.perf_counter() - t0
        return Op(wall, wall, pq.read_metadata(src / file).num_rows)

    ops: list[Op] = []
    try:
        for i, file in enumerate(names):
            if deadline is not None and i >= 2 and time.perf_counter() >= deadline:
                break
            ops.append(land(file, i))
        if flush:
            ops.append(land("flush.parquet", len(ops)))
    finally:
        q.stop()
    return ops, q.recentProgress, str(q.runId)


def sunk_incidents(spark, url: str, replay_name: str):
    """The Derby table read back and sessionized; returns (rows written,
    sorted incidents)."""
    from pyspark.sql import functions as F

    from tsp_spark.io import jdbc
    from tsp_spark.io.conf import JDBCInputConf
    from tsp_spark.ops.sessionize import sessionize_intervals

    back = jdbc.jdbc_source(spark, JDBCInputConf(
        source_id=0, jdbc_url=url, query=f"SELECT * FROM incidents_{replay_name}",
        driver_name=DRIVER, datetime_field="from", partition_fields=["unit"],
    )).select(
        F.col("id").cast("int").alias("pattern_id"),
        F.col("subunit").cast("int").alias("subunit"),
        F.col("unit").cast("long").alias("user_id"),
        F.col("from").alias("from_ts"),
        F.col("to").alias("to_ts"),
    ).cache()
    written = back.count()
    merged = sessionize_intervals(back, ["pattern_id", "subunit", *KEYS], gap_ms=SESSION_GAP_MS)
    rows = sorted(map(tuple, merged.select(
        "pattern_id", "subunit", *KEYS, "from_ts", "to_ts").collect()))
    back.unpersist()
    return written, rows


def batch_incidents(spark, src):
    from tsp_spark.api import search_incidents

    out = search_incidents(
        spark.read.parquet(str(src)), patterns(), KEYS, "ts", fields_types=FIELDS,
        max_gap_ms=MAX_GAP_MS, session_gap_ms=SESSION_GAP_MS,
    )
    return sorted(map(tuple, out.select(
        "pattern_id", "subunit", *KEYS, "from_ts", "to_ts").collect()))


def run(spark, ctx: Run) -> Result:
    from tsp_spark import api
    from tsp_spark.io import jdbc

    drop_s = max(10, int(DROP_S * ctx.scale))
    drops, flush = gen.stream_drops(ctx.seed, UNITS, drop_s, int(2 * ctx.seconds) + 4)
    names = [f"d{i:04d}.parquet" for i in range(len(drops))]

    def setup(i: int):
        staging = ctx.work / f"staging{i}"
        staging.mkdir()
        for file, table in zip(names, drops):
            pq.write_table(table, staging / file)
        pq.write_table(flush, staging / "flush.parquet")
        # boot a fresh Derby database and create the sink tables through
        # the program's own sink, from an empty incident frame
        url = derby_url(ctx, i)
        empty = spark.read.parquet(str(staging / "flush.parquet")).where("false").selectExpr(
            "1 AS pattern_id", "0 AS subunit", "user_id", "ts AS from_ts", "ts AS to_ts")
        for name in REPLAYS:
            jdbc.jdbc_sink(api.incidents_to_rows(empty, "user_id"), sink_conf(url, name),
                           mode="overwrite")
        return staging, url

    setup_s, (staging, url) = timed_setup(setup)
    null = NullTracer()
    # the first drops of a fresh query run slow (Python workers, JIT)
    replay(spark, ctx, staging, names[:3], url, "warm", null, flush=False)
    log("warm-up done")

    deadline = time.perf_counter() + ctx.seconds
    ops, progress, _run_id = replay(spark, ctx, staging, names, url, "main", null, deadline)
    batches = [p.durationMs["triggerExecution"] / 1000 for p in progress if p.numInputRows > 0]
    res = Result()
    res.e2e = {"setup_s": setup_s, **op_metrics(ops, batches), "peak_rss_mb": peak_rss_mb(spark)}

    log(f"timed replay, drop seconds: {[round(o.wall_s, 2) for o in ops]}")
    truth = batch_incidents(spark, ctx.work / "src-main")

    def check(name: str, n_ops: int) -> int:
        written, got = sunk_incidents(spark, url, name)
        res.attempted += n_ops
        if got != truth:
            res.failed += n_ops
            print(f"stream {name}: {len(got)} sunk incidents != {len(truth)} batch incidents",
                  file=sys.stderr)
        return written

    check("main", len(ops))
    log("checked against batch")

    if ctx.trace:
        def again(tr: NullTracer):
            # the same drops as the timed replay, then the flush
            name = "traced" if tr.enabled else "base"
            return replay(spark, ctx, staging, names[: len(ops) - 1], url, name, tr)

        tr, (base, _, _), (traced, progress, run_id) = overhead_pair(spark, again)
        check("base", len(base))
        written = check("traced", len(traced))
        res.layers = layer_metrics(tr, len(traced), ctx.cores, [run_id], progress, written)
        res.notes.update(base_ops=base, traced_ops=traced, tracer=tr)
    return res
