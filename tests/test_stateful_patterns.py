"""Stateful streaming Timer and AndThen kernels vs the batch compiler.

Same harness as test_stateful_islands: drop the events as one file,
stream it with per-file triggers, flush with a far-future row per key so
the watermark closes every run, and compare the closed intervals against
the batch ``compile_pattern`` result on identical data. This is the
incremental path the reference implements as per-key state machines
(PatternProcessor.scala:23-59) — no raw-history retention, state is the
open runs plus a pruned pending set.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tsp_spark.compile.compiler import compile_pattern
from tsp_spark.streaming.stateful import stateful_andthen, stateful_timer

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

GAP_MS = 15_000


def _run_stream(spark, src, mk_ts, build, table, flush_tail, project, expected):
    """Write src as one parquet file + a far-future flush batch; run the
    stateful query until its output covers ``expected``; return the set."""
    src_dir = tempfile.mkdtemp(prefix=f"tsp_{table}_src")
    chk = tempfile.mkdtemp(prefix=f"tsp_{table}_chk")
    try:
        src.coalesce(1).write.parquet(f"{src_dir}/b0")
        flush = spark.createDataFrame(
            [(u, mk_ts(20_000 + u), 0.0, *flush_tail) for u in (1, 2, 3)],
            src.schema,
        )
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src_dir}/*")
        )
        q = (
            build(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(table)
            .option("checkpointLocation", chk)
            .start()
        )
        q.processAllAvailable()
        flush.coalesce(1).write.mode("append").parquet(f"{src_dir}/b1")
        deadline = time.time() + 60
        got: set = set()
        while time.time() < deadline:
            q.processAllAvailable()
            got = {project(r) for r in spark.sql(f"SELECT * FROM {table}").collect()}
            if expected <= got:
                break
            time.sleep(0.5)
        q.stop()
        return got
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


def test_stateful_pattern_routing(spark, events_small, tmp_path):
    """DSL router: eligible patterns get a streaming plan; windowed
    sub-expressions are rejected toward the carry-buffer mode."""
    from tsp_spark.streaming.stateful import stateful_pattern

    src = str(tmp_path / "route_src")
    events_small.limit(10).write.parquet(src)
    stream = spark.readStream.schema(events_small.schema).parquet(src)
    ft = {"value": "float64"}
    for pat in ("value > 150", "value > 150 for 10 sec",
                "value > 150 andThen value < 120",
                # windowed sub-expressions run in-kernel via sliding
                # condition programs
                "avg(value, 10 sec) > 150",
                "value > 150 for 30 sec > 2 times",
                "value > 150 for 30 sec > 5 sec",
                # lag runs in-kernel via delayed resolution (r5)
                "lag(value, 5 sec) > value",
                "lag(value) > value",
                "lag(value, 5 sec) > 150 for 10 sec",
                # left-associative andThen chains run in-kernel (r5)
                "value > 150 andThen value < 120 andThen value > 130",
                # wait (leading window) runs in-kernel (r5)
                "wait(5 sec, value > 150)",
                "wait(5 sec, value > 150) for 10 sec",
                "value > 150 andThen wait(5 sec, value < 120)",
                # r5 totality: right-nested andThen (sequence-membership
                # program), wait under booleans (Kleene combinator),
                # nested window aggregates, string lag, registry math
                "value > 150 andThen (value < 120 andThen value > 130)",
                "value > 150 and wait(5 sec, value < 120)",
                "avg(avg(value, 5 sec), 20 sec) > 150",
                "sin(avg(value, 10 sec) / 60) > 0.5",
                "avg(value, 10 sec) > 150 until value > 190",
                # lag nested inside a windowed aggregate runs in-kernel
                # via per-entry bridge depmasks (r6)
                "avg(lag(value, 5 sec), 10 sec) > 150",
                "count(lag(value), 10 sec) >= 5",
                "avg(lag(value, 5 sec), 10 sec) > 150 for 10 sec"):
        out = stateful_pattern(stream, pat, ["user_id"], "ts", ft)
        assert out.isStreaming and "from_ts" in out.columns
    # string lag runs in-kernel via the tagged value codec (r5)
    out = stateful_pattern(
        stream, "lag(event_type, 5 sec) = 'ok'", ["user_id"], "ts",
        {**ft, "event_type": "string"},
    )
    assert out.isStreaming
    # a pending lag nested inside another lag's lookback runs in-kernel
    # too (r6c, speculative branch forking)
    out = stateful_pattern(
        stream, "lag(lag(value, 5 sec), 10 sec) > 150", ["user_id"], "ts", ft
    )
    assert out.isStreaming


@pytest.mark.parametrize("config", ["core", "ivolga"])
def test_build_spec_golden_corpus_builds_or_routes(spark, config):
    """Every golden pattern either builds a kernel spec or is routed out
    with build_spec's documented ValueError (never a raw Spark error)."""
    from tools import check_golden as G
    from tsp_spark.streaming.stateful import build_spec

    loader, corpus = G.CONFIGS[config]
    df, keys, fields = loader(spark)
    empty = spark.createDataFrame([], df.schema)
    pats, _, _ = G.golden(corpus)
    routed = []
    for p in pats:
        try:
            build_spec(empty, p["sourceCode"], keys, "ts", fields, 60_000)
        except ValueError as e:
            assert "carry-buffer streaming mode" in str(e), (p["id"], e)
            routed.append(int(p["id"]))
    assert len(routed) < len(pats)


def test_stateful_incidents_union(spark, events_small, tmp_path):
    """Multi-pattern stateful job: one interval stream per pattern,
    unioned with pattern metadata; windowed patterns are rejected."""
    from tsp_spark.api import RawPattern
    from tsp_spark.streaming.job import StreamingPatternJob, stateful_incidents

    src = str(tmp_path / "si_src")
    events_small.limit(10).write.parquet(src)
    stream = spark.readStream.schema(events_small.schema).parquet(src)
    job = StreamingPatternJob(
        patterns=[
            RawPattern(1, "value > 150"),
            RawPattern(2, "value > 150 for 10 sec"),
            RawPattern(3, "value > 150 andThen value < 120"),
        ],
        keys=["user_id"], ts="ts", fields_types={"value": "float64"},
    )
    out = stateful_incidents(stream, job)
    assert out.isStreaming
    assert out.columns == ["pattern_id", "subunit", "user_id", "from_ts", "to_ts"]
    job_win = StreamingPatternJob(
        patterns=[RawPattern(1, "avg(value, 5 sec) > 150")],
        keys=["user_id"], ts="ts", fields_types={"value": "float64"},
    )
    assert stateful_incidents(stream, job_win).isStreaming
    # lag routes in-kernel since r5 (delayed resolution)
    job_lag = StreamingPatternJob(
        patterns=[RawPattern(1, "lag(value, 5 sec) > value")],
        keys=["user_id"], ts="ts", fields_types={"value": "float64"},
    )
    assert stateful_incidents(stream, job_lag).isStreaming
    # left-assoc chains route in-kernel since r5
    job_chain = StreamingPatternJob(
        patterns=[
            RawPattern(1, "value > 150 andThen value < 120 andThen value > 130")
        ],
        keys=["user_id"], ts="ts", fields_types={"value": "float64"},
    )
    assert stateful_incidents(stream, job_chain).isStreaming
    # string lag routes in-kernel since r5 (tagged value codec)
    job_slag = StreamingPatternJob(
        patterns=[RawPattern(1, "lag(event_type, 5 sec) = 'ok'")],
        keys=["user_id"], ts="ts",
        fields_types={"value": "float64", "event_type": "string"},
    )
    assert stateful_incidents(stream, job_slag).isStreaming
    # lag nested inside a windowed aggregate routes in-kernel since r6
    job_lagagg = StreamingPatternJob(
        patterns=[RawPattern(1, "avg(lag(value, 5 sec), 10 sec) > 150")],
        keys=["user_id"], ts="ts", fields_types={"value": "float64"},
    )
    assert stateful_incidents(stream, job_lagagg).isStreaming
    # a pending lag nested inside another lag's lookback runs in-kernel
    # too (r6c, speculative branch forking)
    job_nested = StreamingPatternJob(
        patterns=[RawPattern(1, "lag(lag(value, 5 sec), 10 sec) > 150")],
        keys=["user_id"], ts="ts", fields_types={"value": "float64"},
    )
    assert stateful_incidents(stream, job_nested).isStreaming


@pytest.mark.slow
def test_stateful_timer_matches_batch(spark, events_small, mk_ts):
    batch = {
        (r["user_id"], r["from_ts"], r["to_ts"], r["n_rows"])
        for r in compile_pattern(
            events_small, "value > 150 for 10 sec", ["user_id"], "ts",
            {"value": "float64"}, max_gap_ms=GAP_MS,
        ).select("user_id", "from_ts", "to_ts", "n_rows").collect()
    }
    assert batch

    src = events_small.withColumn("cond", F.col("value") > 150)
    got = _run_stream(
        spark, src, mk_ts,
        lambda stream: stateful_timer(
            stream, ["user_id"], "ts", "cond", window_ms=10_000,
            max_gap_ms=GAP_MS, watermark_delay="1 second",
        ),
        "stateful_timer_t",
        flush_tail=("ok", False),
        project=lambda r: (r["user_id"], r["from_ts"], r["to_ts"], r["n_rows"]),
        expected=batch,
    )
    assert batch <= got, f"missing {sorted(batch - got)[:5]}"
    assert got <= batch, f"spurious {sorted(got - batch)[:5]}"


@pytest.mark.slow
def test_stateful_incidents_stream_matches_batch(spark, events_small, mk_ts):
    """Full multi-pattern stateful job vs the batch compiler: all three
    kernel families in one union stream."""
    from tsp_spark.api import RawPattern
    from tsp_spark.streaming.job import StreamingPatternJob, stateful_incidents

    pats = [
        RawPattern(1, "value > 150"),
        RawPattern(2, "value > 150 for 10 sec"),
        RawPattern(3, "value > 150 andThen value < 120"),
    ]
    ft = {"value": "float64"}
    batch = set()
    for p in pats:
        ivs = compile_pattern(
            events_small, p.source_code, ["user_id"], "ts", ft, max_gap_ms=GAP_MS
        ).select("user_id", "from_ts", "to_ts").collect()
        batch |= {(p.id, r["user_id"], r["from_ts"], r["to_ts"]) for r in ivs}
    assert batch

    job = StreamingPatternJob(
        patterns=pats, keys=["user_id"], ts="ts", fields_types=ft,
        events_max_gap_ms=GAP_MS, watermark_delay="1 second",
    )
    got = _run_stream(
        spark, events_small, mk_ts,
        lambda stream: stateful_incidents(stream, job),
        "stateful_incidents_t",
        flush_tail=("ok",),
        project=lambda r: (r["pattern_id"], r["user_id"], r["from_ts"], r["to_ts"]),
        expected=batch,
    )
    assert batch <= got, f"missing {sorted(batch - got)[:5]}"
    assert got <= batch, f"spurious {sorted(got - batch)[:5]}"


@pytest.mark.slow
def test_stateful_andthen_matches_batch(spark, events_small, mk_ts):
    batch = {
        (r["user_id"], r["from_ts"], r["to_ts"])
        for r in compile_pattern(
            events_small, "value > 150 andThen value < 120", ["user_id"], "ts",
            {"value": "float64"}, max_gap_ms=GAP_MS,
        ).select("user_id", "from_ts", "to_ts").collect()
    }
    assert batch

    src = events_small.withColumn("cond_a", F.col("value") > 150).withColumn(
        "cond_b", F.col("value") < 120
    )
    got = _run_stream(
        spark, src, mk_ts,
        lambda stream: stateful_andthen(
            stream, ["user_id"], "ts", "cond_a", "cond_b",
            max_gap_ms=GAP_MS, watermark_delay="1 second",
        ),
        "stateful_andthen_t",
        flush_tail=("ok", False, True),
        project=lambda r: (r["user_id"], r["from_ts"], r["to_ts"]),
        expected=batch,
    )
    assert batch <= got, f"missing {sorted(batch - got)[:5]}"
    assert got <= batch, f"spurious {sorted(got - batch)[:5]}"


@pytest.mark.slow
def test_stateful_windowed_avg_matches_batch(spark, events_small, mk_ts):
    """The verdict's acceptance case: `avg(x, T) > c for T'` through the
    incremental kernel (sliding-deque condition program feeding the
    timer SM) equals the batch compiler on identical data."""
    from tsp_spark.streaming.stateful import stateful_pattern

    pat = "avg(value, 10 sec) > 150 for 10 sec"
    ft = {"value": "float64"}
    batch = {
        (r["user_id"], r["from_ts"], r["to_ts"], r["n_rows"])
        for r in compile_pattern(
            events_small, pat, ["user_id"], "ts", ft, max_gap_ms=GAP_MS
        ).select("user_id", "from_ts", "to_ts", "n_rows").collect()
    }
    assert batch

    got = _run_stream(
        spark, events_small, mk_ts,
        lambda stream: stateful_pattern(
            stream, pat, ["user_id"], "ts", ft,
            max_gap_ms=GAP_MS, watermark_delay="1 second",
        ),
        "stateful_winavg_t",
        flush_tail=("ok",),
        project=lambda r: (r["user_id"], r["from_ts"], r["to_ts"], r["n_rows"]),
        expected=batch,
    )
    assert batch <= got, f"missing {sorted(batch - got)[:5]}"
    assert got <= batch, f"spurious {sorted(got - batch)[:5]}"


@pytest.mark.slow
@pytest.mark.parametrize("pat", [
    "value < 120 andThen value > 150 andThen value < 120",
    "value < 120 andThen value > 150 andThen value < 120 andThen value > 150",
])
def test_stateful_andthen_chain_matches_batch(spark, events_small, mk_ts, pat):
    """Left-associative nested andThen through the generalized chain SM
    (r4 verdict item 4): stage-by-stage sequence joins equal the batch
    compiler's folded and_then_intervals on identical data."""
    from tsp_spark.streaming.stateful import stateful_pattern

    ft = {"value": "float64"}
    batch = {
        (r["user_id"], r["from_ts"], r["to_ts"])
        for r in compile_pattern(
            events_small, pat, ["user_id"], "ts", ft, max_gap_ms=GAP_MS
        ).select("user_id", "from_ts", "to_ts").collect()
    }
    assert batch

    got = _run_stream(
        spark, events_small, mk_ts,
        lambda stream: stateful_pattern(
            stream, pat, ["user_id"], "ts", ft,
            max_gap_ms=GAP_MS, watermark_delay="1 second",
        ),
        "stateful_chain_t",
        flush_tail=("ok",),
        project=lambda r: (r["user_id"], r["from_ts"], r["to_ts"]),
        expected=batch,
    )
    assert batch <= got, f"missing {sorted(batch - got)[:5]}"
    assert got <= batch, f"spurious {sorted(got - batch)[:5]}"


@pytest.mark.slow
@pytest.mark.parametrize("pat", [
    "lag(value) > value",
    "lag(value, 5 sec) > value",
    "lag(value, 7 sec) > 150",
])
def test_stateful_lag_matches_batch(spark, events_small, mk_ts, pat):
    """PreviousValue through the incremental kernel (r4 verdict item 3):
    lag(x) / lag(x, T) conditions — consume-once emission with the
    batch compiler's equal-value bridge, resolved via the kernel's
    pending-row truth tables — equal the batch plan on identical data."""
    from tsp_spark.streaming.stateful import stateful_pattern

    ft = {"value": "float64"}
    batch = {
        (r["user_id"], r["from_ts"], r["to_ts"], r["n_rows"])
        for r in compile_pattern(
            events_small, pat, ["user_id"], "ts", ft, max_gap_ms=GAP_MS
        ).select("user_id", "from_ts", "to_ts", "n_rows").collect()
    }
    assert batch

    got = _run_stream(
        spark, events_small, mk_ts,
        lambda stream: stateful_pattern(
            stream, pat, ["user_id"], "ts", ft,
            max_gap_ms=GAP_MS, watermark_delay="1 second",
        ),
        "stateful_lag_t",
        flush_tail=("ok",),
        project=lambda r: (r["user_id"], r["from_ts"], r["to_ts"], r["n_rows"]),
        expected=batch,
    )
    assert batch <= got, f"missing {sorted(batch - got)[:5]}"
    assert got <= batch, f"spurious {sorted(got - batch)[:5]}"


@pytest.mark.slow
def test_stateful_lag_for_matches_batch(spark, events_small, mk_ts):
    """lag feeding a `for T` timer through the kernel: the timer SM
    consumes delayed-resolution conditions via the row/cond queues."""
    from tsp_spark.streaming.stateful import stateful_pattern

    pat = "lag(value, 5 sec) > 150 for 10 sec"
    ft = {"value": "float64"}
    batch = {
        (r["user_id"], r["from_ts"], r["to_ts"], r["n_rows"])
        for r in compile_pattern(
            events_small, pat, ["user_id"], "ts", ft, max_gap_ms=GAP_MS
        ).select("user_id", "from_ts", "to_ts", "n_rows").collect()
    }
    assert batch

    got = _run_stream(
        spark, events_small, mk_ts,
        lambda stream: stateful_pattern(
            stream, pat, ["user_id"], "ts", ft,
            max_gap_ms=GAP_MS, watermark_delay="1 second",
        ),
        "stateful_lagfor_t",
        flush_tail=("ok",),
        project=lambda r: (r["user_id"], r["from_ts"], r["to_ts"], r["n_rows"]),
        expected=batch,
    )
    assert batch <= got, f"missing {sorted(batch - got)[:5]}"
    assert got <= batch, f"spurious {sorted(got - batch)[:5]}"


@pytest.mark.slow
@pytest.mark.parametrize("pat", [
    "wait(5 sec, value > 150)",
    "wait(5 sec, value > 150) for 10 sec",
    "value > 150 andThen wait(5 sec, value < 120)",
    "wait(3 sec, avg(value, 5 sec) > 150)",
])
def test_stateful_wait_matches_batch(spark, events_small, mk_ts, pat):
    """wait(T, X) — the leading window — through the kernel's pending
    _WaitProgram: a row decides true the moment X fires within [t, t+W],
    false once event time passes t+W, series-truncated at gaps; equal to
    the batch compiler's max-over-leading-frame on identical data."""
    from tsp_spark.streaming.stateful import stateful_pattern

    ft = {"value": "float64"}
    batch = {
        (r["user_id"], r["from_ts"], r["to_ts"])
        for r in compile_pattern(
            events_small, pat, ["user_id"], "ts", ft, max_gap_ms=GAP_MS
        ).select("user_id", "from_ts", "to_ts").collect()
    }
    assert batch

    got = _run_stream(
        spark, events_small, mk_ts,
        lambda stream: stateful_pattern(
            stream, pat, ["user_id"], "ts", ft,
            max_gap_ms=GAP_MS, watermark_delay="1 second",
        ).select("user_id", "from_ts", "to_ts"),
        "stateful_wait_t",
        flush_tail=("ok",),
        project=lambda r: (r["user_id"], r["from_ts"], r["to_ts"]),
        expected=batch,
    )
    assert batch <= got, f"missing {sorted(batch - got)[:5]}"
    assert got <= batch, f"spurious {sorted(got - batch)[:5]}"


def test_eval_row_string_comparisons():
    """registry._cmp mirror (r4 ADVICE high): string operands inside a
    windowed boolean must compare natively, not through float() — the
    old coercion raised ValueError on the first row and killed the
    streaming query. Mixed string/number follows Spark's implicit cast
    (non-numeric string → NULL)."""
    from tsp_spark.dsl.parser import parse_pattern
    from tsp_spark.streaming.stateful import _eval_row

    ft = {"s": "string", "v": "float64"}
    row = {"s": "error", "v": 1.0}
    assert _eval_row(parse_pattern("s = 'error'", ft), row, {}) is True
    assert _eval_row(parse_pattern("s != 'error'", ft), row, {}) is False
    assert _eval_row(parse_pattern("s < 'ok'", ft), row, {}) is True
    # mixed: string side casts to double; non-numeric string → NULL
    assert _eval_row(parse_pattern("s > 5", ft), row, {}) is None
    assert _eval_row(parse_pattern("s = 'err'", ft), {"s": "err"}, {}) is True
    assert _eval_row(parse_pattern("v > 0.5", ft), row, {}) is True


@pytest.mark.slow
def test_stateful_windowed_string_cmp_matches_batch(spark, events_small, mk_ts):
    """A string equality ANDed with a windowed aggregate (the r4 ADVICE
    failure shape): the whole boolean becomes a _WindowedCondProgram, so
    its row-level arm must evaluate string comparisons in-kernel."""
    from tsp_spark.streaming.stateful import stateful_pattern

    pat = "avg(value, 10 sec) > 150 and event_type = 'ok'"
    ft = {"value": "float64", "event_type": "string"}
    batch = {
        (r["user_id"], r["from_ts"], r["to_ts"])
        for r in compile_pattern(
            events_small, pat, ["user_id"], "ts", ft, max_gap_ms=GAP_MS
        ).select("user_id", "from_ts", "to_ts").collect()
    }
    assert batch

    got = _run_stream(
        spark, events_small, mk_ts,
        lambda stream: stateful_pattern(
            stream, pat, ["user_id"], "ts", ft,
            max_gap_ms=GAP_MS, watermark_delay="1 second",
        ).select("user_id", "from_ts", "to_ts"),
        "stateful_winstr_t",
        flush_tail=("x",),
        project=lambda r: (r["user_id"], r["from_ts"], r["to_ts"]),
        expected=batch,
    )
    assert batch <= got, f"missing {sorted(batch - got)[:5]}"
    assert got <= batch, f"spurious {sorted(got - batch)[:5]}"


@pytest.mark.slow
def test_stateful_truth_count_matches_batch(spark, events_small, mk_ts):
    """WindowStatistic truth-count (`X for T > N times`) through the
    kernel's truth-count program vs the batch compiler."""
    from tsp_spark.streaming.stateful import stateful_pattern

    pat = "value > 150 for 30 sec > 2 times"
    ft = {"value": "float64"}
    batch = {
        (r["user_id"], r["from_ts"], r["to_ts"])
        for r in compile_pattern(
            events_small, pat, ["user_id"], "ts", ft, max_gap_ms=GAP_MS
        ).select("user_id", "from_ts", "to_ts").collect()
    }
    assert batch

    got = _run_stream(
        spark, events_small, mk_ts,
        lambda stream: stateful_pattern(
            stream, pat, ["user_id"], "ts", ft,
            max_gap_ms=GAP_MS, watermark_delay="1 second",
        ).select("user_id", "from_ts", "to_ts"),
        "stateful_tcount_t",
        flush_tail=("ok",),
        project=lambda r: (r["user_id"], r["from_ts"], r["to_ts"]),
        expected=batch,
    )
    assert batch <= got, f"missing {sorted(batch - got)[:5]}"
    assert got <= batch, f"spurious {sorted(got - batch)[:5]}"


@pytest.mark.slow
def test_stateful_truth_duration_matches_batch(spark, events_small, mk_ts):
    """WindowStatistic truth-DURATION (`X for T > T'`) through the
    kernel's truth-stat program vs the batch compiler."""
    from tsp_spark.streaming.stateful import stateful_pattern

    pat = "value > 150 for 30 sec > 10 sec"
    ft = {"value": "float64"}
    batch = {
        (r["user_id"], r["from_ts"], r["to_ts"])
        for r in compile_pattern(
            events_small, pat, ["user_id"], "ts", ft, max_gap_ms=GAP_MS
        ).select("user_id", "from_ts", "to_ts").collect()
    }
    assert batch

    got = _run_stream(
        spark, events_small, mk_ts,
        lambda stream: stateful_pattern(
            stream, pat, ["user_id"], "ts", ft,
            max_gap_ms=GAP_MS, watermark_delay="1 second",
        ).select("user_id", "from_ts", "to_ts"),
        "stateful_tdur_t",
        flush_tail=("ok",),
        project=lambda r: (r["user_id"], r["from_ts"], r["to_ts"]),
        expected=batch,
    )
    assert batch <= got, f"missing {sorted(batch - got)[:5]}"
    assert got <= batch, f"spurious {sorted(got - batch)[:5]}"


CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
CHECKPOINTING_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."
NO_DATA_BATCHES_CONF = "spark.sql.streaming.noDataMicroBatches.enabled"


def test_checkpoint_file_manager_is_filesystem_based(spark, tmp_path):
    """get_spark makes streaming checkpoints go through Hadoop's
    FileSystem API (no chmod/readlink child process per file without
    the native Hadoop library), and a non-overwriting write of an
    existing checkpoint file still fails and keeps the first content."""
    jvm = spark._jvm
    target = tmp_path / "offsets" / "0"
    path = jvm.org.apache.hadoop.fs.Path(str(target))
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(
            path, spark._jsparkSession.sessionState().newHadoopConf()
        )
    assert manager.getClass().getName() == (
        CHECKPOINTING_PKG + "FileSystemBasedCheckpointFileManager"
    )

    first = manager.createAtomic(path, False)
    first.write(bytearray(b"first"))
    first.close()
    second = manager.createAtomic(path, False)
    second.write(bytearray(b"second"))
    with pytest.raises(Exception, match="FileAlreadyExists"):
        second.close()
    assert target.read_bytes() == b"first"


IDLE_DROPS = (
    # key 1 opens a value > 150 run, then goes silent
    [(1, t, 200.0) for t in range(10)] + [(2, t, 100.0) for t in range(10)],
    # key 2 alone moves the watermark to 58 s, past key 1's last row
    # (9 s) + GAP_MS: key 1's event-time timeout is due
    [(2, t, 100.0) for t in range(10, 60)],
    [(2, t, 100.0) for t in range(60, 70)],
)


@pytest.fixture(scope="module")
def idle_key_replay(spark, mk_ts, tmp_path_factory):
    """IDLE_DROPS landed one parquet file at a time through
    ``stateful_incidents`` into a memory sink. Returns the sink's
    (pattern_id, user_id, from_ts, to_ts) set after each drop, the
    query's progress, and batch ``search_incidents`` over all rows."""
    from tsp_spark.api import RawPattern, search_incidents
    from tsp_spark.streaming.job import StreamingPatternJob, stateful_incidents

    schema = "user_id bigint, ts timestamp, value double"
    root = tmp_path_factory.mktemp("idle_key")
    src, chk = root / "src", root / "chk"
    src.mkdir()
    pats = [RawPattern(1, "value > 150")]
    ft = {"value": "float64"}
    frames = [
        spark.createDataFrame([(u, mk_ts(t), v) for u, t, v in rows], schema)
        for rows in IDLE_DROPS
    ]
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    job = StreamingPatternJob(
        patterns=pats, keys=["user_id"], ts="ts", fields_types=ft,
        events_max_gap_ms=GAP_MS, watermark_delay="1 second",
    )
    q = (
        stateful_incidents(stream, job)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("idle_key_close")
        .option("checkpointLocation", str(chk))
        .start()
    )

    def project(rows):
        return {(r["pattern_id"], r["user_id"], r["from_ts"], r["to_ts"]) for r in rows}

    after_drop = []
    try:
        for i, frame in enumerate(frames):
            frame.coalesce(1).write.parquet(str(src / f"d{i}"))
            q.processAllAvailable()
            after_drop.append(project(spark.sql("SELECT * FROM idle_key_close").collect()))
    finally:
        q.stop()
    whole = frames[0].unionAll(frames[1]).unionAll(frames[2])
    batch = project(search_incidents(
        whole, pats, ["user_id"], "ts", fields_types=ft, max_gap_ms=GAP_MS,
    ).collect())
    return after_drop, q.recentProgress, batch


@pytest.mark.slow
def test_stateful_idle_key_closes_by_timeout(idle_key_replay, mk_ts):
    """A key that stops sending closes through the kernel's event-time
    timeout, not a gap row: its open run is emitted once another key's
    data moves the watermark past its last row + max gap, at the latest
    with the data drop after that, and equals the batch search."""
    after_drop, _, batch = idle_key_replay
    assert batch == {(1, 1, mk_ts(0), mk_ts(9))}
    assert after_drop[0] == set()  # the run is open while key 1 is live
    assert after_drop[-1] == batch


@pytest.mark.slow
def test_stateful_drop_runs_one_micro_batch(idle_key_replay):
    """get_spark turns off Spark's no-data micro-batch: each drop runs
    exactly one micro-batch, even when it advances the watermark past a
    pending timeout. Idle progress events (no addBatch) are not batches."""
    _, progress, _ = idle_key_replay
    batches = [p for p in progress if "addBatch" in p.durationMs]
    assert [p.numInputRows for p in batches] == [len(rows) for rows in IDLE_DROPS]


@pytest.mark.slow
@pytest.mark.parametrize(
    "first_confs",
    [
        {
            CHECKPOINT_MANAGER_CONF:
                CHECKPOINTING_PKG + "FileContextBasedCheckpointFileManager",
            NO_DATA_BATCHES_CONF: "true",
        },
        {},
    ],
    ids=["spark_default", "engine_default"],
)
def test_stateful_checkpoint_kill_and_resume_matches_batch(
    spark, events_small, mk_ts, tmp_path, first_confs
):
    """Resume-from-checkpoint parity (the reference proves this via
    CheckpointingService.scala:12-168): run the stateful kernel over a
    file source with a durable file sink, STOP the query mid-stream
    while per-key state holds open runs (the cut at t=70s lands inside
    every user's >150 stretch), restart from the same checkpoint dir,
    and assert the union of emitted incidents equals the batch plan —
    no losses, no duplicates. The first leg writes its checkpoint with
    ``first_confs`` over the engine's session (empty: the engine's
    defaults), so a checkpoint left by Spark's defaults (FileContext-based
    manager, no-data micro-batches on) resumes under the engine's."""
    from tsp_spark.streaming.stateful import stateful_pattern

    pat = "value > 150 for 10 sec"
    ft = {"value": "float64"}
    batch = {
        (r["user_id"], r["from_ts"], r["to_ts"], r["n_rows"])
        for r in compile_pattern(
            events_small, pat, ["user_id"], "ts", ft, max_gap_ms=GAP_MS
        ).select("user_id", "from_ts", "to_ts", "n_rows").collect()
    }
    assert batch

    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    out = str(tmp_path / "out")
    cut = mk_ts(70)  # mid-run: open TimerSM state must survive the kill
    events_small.where(F.col("ts") < cut).coalesce(1).write.parquet(f"{src}/b0")

    def start():
        stream = (
            spark.readStream.schema(events_small.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*")
        )
        return (
            stateful_pattern(
                stream, pat, ["user_id"], "ts", ft,
                max_gap_ms=GAP_MS, watermark_delay="1 second",
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .start()
        )

    engine_confs = {k: spark.conf.get(k) for k in first_confs}
    for k, v in first_confs.items():
        spark.conf.set(k, v)
    try:
        q = start()
        q.processAllAvailable()
        q.stop()  # the kill: open runs + watermark live only in the checkpoint
    finally:
        for k, v in engine_confs.items():
            spark.conf.set(k, v)

    events_small.where(F.col("ts") >= cut).coalesce(1).write.parquet(f"{src}/b1")
    flush = spark.createDataFrame(
        [(u, mk_ts(20_000 + u), 0.0, "ok") for u in (1, 2, 3)],
        events_small.schema,
    )
    flush.coalesce(1).write.mode("append").parquet(f"{src}/b2")

    q2 = start()
    deadline = time.time() + 60
    got: set = set()
    while time.time() < deadline:
        q2.processAllAvailable()
        rows = spark.read.schema(
            "user_id bigint, from_ts timestamp, to_ts timestamp, n_rows bigint"
        ).parquet(out).collect()
        got = {(r["user_id"], r["from_ts"], r["to_ts"], r["n_rows"]) for r in rows}
        if batch <= got:
            break
        time.sleep(0.5)
    q2.stop()
    assert batch <= got, f"lost across restart: {sorted(batch - got)[:5]}"
    assert got <= batch, f"duplicated/spurious: {sorted(got - batch)[:5]}"


@pytest.fixture(scope="module")
def events_gappy(spark, mk_ts):
    """Keyed series WITH mid-series >maxGap holes: exercises the
    series-scoped window reset in the kernel programs (batch windows
    partition by (keys, series))."""
    rows = []
    for user in (1, 2):
        t = 0.0
        for seg in range(3):
            for i in range(60):
                val = 200.0 + (i % 5) if 15 <= i < 45 else 100.0 + (i % 5)
                rows.append((user, mk_ts(t), val, "ok"))
                t += 1.0
            t += 25.0  # > GAP_MS: forces a series split mid-stream
    return spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, value double, event_type string"
    ).cache()


@pytest.mark.slow
def test_stateful_windowed_gap_reset_matches_batch(spark, events_gappy, mk_ts):
    """Windowed avg + truth-count across >maxGap series splits: the
    kernel must clear its deques exactly where the batch plan's
    series-partitioned windows restart."""
    from tsp_spark.streaming.stateful import stateful_pattern

    ft = {"value": "float64"}
    for pat, table in (
        ("avg(value, 10 sec) > 150 for 5 sec", "gapreset_avg_t"),
        ("value > 150 for 20 sec > 3 times", "gapreset_cnt_t"),
    ):
        batch = {
            (r["user_id"], r["from_ts"], r["to_ts"])
            for r in compile_pattern(
                events_gappy, pat, ["user_id"], "ts", ft, max_gap_ms=GAP_MS
            ).select("user_id", "from_ts", "to_ts").collect()
        }
        assert batch, pat
        got = _run_stream(
            spark, events_gappy, mk_ts,
            lambda stream: stateful_pattern(
                stream, pat, ["user_id"], "ts", ft,
                max_gap_ms=GAP_MS, watermark_delay="1 second",
            ).select("user_id", "from_ts", "to_ts"),
            table,
            flush_tail=("ok",),
            project=lambda r: (r["user_id"], r["from_ts"], r["to_ts"]),
            expected=batch,
        )
        assert batch <= got, f"{pat}: missing {sorted(batch - got)[:5]}"
        assert got <= batch, f"{pat}: spurious {sorted(got - batch)[:5]}"


@pytest.mark.slow
def test_stateful_until_matches_batch(spark, events_small, mk_ts):
    """`X until B` desugars to row-level islands of (X and not B) — it
    rides the kernel's column fast path; parity pins that routing."""
    from tsp_spark.streaming.stateful import stateful_pattern

    pat = "value > 50 until event_type = 'error'"
    ft = {"value": "float64", "event_type": "string"}
    batch = {
        (r["user_id"], r["from_ts"], r["to_ts"])
        for r in compile_pattern(
            events_small, pat, ["user_id"], "ts", ft, max_gap_ms=GAP_MS
        ).select("user_id", "from_ts", "to_ts").collect()
    }
    assert batch

    got = _run_stream(
        spark, events_small, mk_ts,
        lambda stream: stateful_pattern(
            stream, pat, ["user_id"], "ts", ft,
            max_gap_ms=GAP_MS, watermark_delay="1 second",
        ).select("user_id", "from_ts", "to_ts"),
        "stateful_until_t",
        flush_tail=("error",),
        project=lambda r: (r["user_id"], r["from_ts"], r["to_ts"]),
        expected=batch,
    )
    assert batch <= got, f"missing {sorted(batch - got)[:5]}"
    assert got <= batch, f"spurious {sorted(got - batch)[:5]}"


@pytest.mark.slow
def test_stateful_windowed_minmax_count_matches_batch(spark, events_gappy, mk_ts):
    """The remaining windowed-aggregate kinds through the kernel
    programs: min/max spread and count, composed with arithmetic and
    boolean operators, across series splits."""
    from tsp_spark.streaming.stateful import stateful_pattern

    ft = {"value": "float64"}
    for pat, table in (
        ("max(value, 10 sec) - min(value, 10 sec) > 30 for 5 sec",
         "winspread_t"),
        ("count(value, 10 sec) >= 9 and sum(value, 10 sec) > 1500",
         "wincount_t"),
    ):
        batch = {
            (r["user_id"], r["from_ts"], r["to_ts"])
            for r in compile_pattern(
                events_gappy, pat, ["user_id"], "ts", ft, max_gap_ms=GAP_MS
            ).select("user_id", "from_ts", "to_ts").collect()
        }
        assert batch, pat
        got = _run_stream(
            spark, events_gappy, mk_ts,
            lambda stream: stateful_pattern(
                stream, pat, ["user_id"], "ts", ft,
                max_gap_ms=GAP_MS, watermark_delay="1 second",
            ).select("user_id", "from_ts", "to_ts"),
            table,
            flush_tail=("ok",),
            project=lambda r: (r["user_id"], r["from_ts"], r["to_ts"]),
            expected=batch,
        )
        assert batch <= got, f"{pat}: missing {sorted(batch - got)[:5]}"
        assert got <= batch, f"{pat}: spurious {sorted(got - batch)[:5]}"


def test_reducer_cast_matches_spark_try_cast(spark):
    """r8 task 4 (ADVICE low #4): the kernel's string→double reducer
    cast must follow Spark's cast grammar exactly — `1.5d`/`1.5f`
    suffixes and p-exponent hex floats parse, `1_000` digit
    separators / unicode digits / signed nan do not, inf words are
    case-insensitive. Pinned directly against try_cast on this build."""
    import math

    from tsp_spark.streaming.stateful import _reducer_cast

    vals = [
        "1.5", "1.5d", "1.5D", "1.5f", "1.5F", "1.5e2f", "1.5e+2",
        "Infinity", "-Infinity", "+Infinity", "infinity", "INFINITY",
        "inf", "+inf", "-inf", "NaN", "nan", "NAN", "+nan", "-nan",
        "0x1.8p1", "0x1.8p1f", "0X1P3", "0x1.8", "0x10", "0x.8p2",
        " 1.0 ", "\t2.5\n", "1_000", "1_0", ".5", "5.", "1e3", "+2.5",
        "1e", "e3", "1.5e", ".", "-.", "1.5dd", "- 1", "Infinityd",
        "infd", "１２３", "", "+", "-", "d", "[NULL]", "12,5", "0x",
        "1.2.3", "--1", "++1", "1e+", "0xp1",
    ]
    expect = {
        r["v"]: r["d"]
        for r in spark.createDataFrame([(v,) for v in vals], "v string")
        .select("v", F.col("v").try_cast("double").alias("d"))
        .collect()
    }
    for v in vals:
        got, want = _reducer_cast(v), expect[v]
        if want is None:
            assert got is None, f"{v!r}: kernel {got} vs spark NULL"
        elif math.isnan(want):
            assert got is not None and math.isnan(got), f"{v!r}: {got}"
        else:
            assert got == want, f"{v!r}: kernel {got} vs spark {want}"
