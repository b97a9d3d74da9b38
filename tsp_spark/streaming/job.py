"""Streaming pattern search (SURVEY §2.10).

The reference's streaming path (PatternsSearchJob.scala:123-160) keys
the stream, chunks it (event-time 15-min windows for JDBC, 1-second
processing-time flushes for Kafka), runs the incremental state machines
per chunk, and sessionizes incidents.

Spark-first mapping:

* keying            → the batch compiler's `Window.partitionBy(keys)`
* late data         → `withWatermark(ts, events_max_gap_ms)` — the
                      reference has no true watermark (it sorts within
                      a chunk and splits series on >60s gaps;
                      PatternProcessor.scala:33-56)
* micro-batching    → `foreachBatch` re-running the *batch* compiler
                      over a sliding state window: each micro-batch is
                      prepended with the tail of the previous one (the
                      carry buffer) so windows/sequences spanning batch
                      boundaries are re-evaluated exactly like the
                      reference's carried state machines. Carry depth =
                      the pattern's total window sum + events_max_gap_ms
                      (PatternMetadata.sumWindowsMs analogue).
* checkpointing     → Structured Streaming checkpoints (source
                      offsets) replace the reference's Redis row
                      counters (CheckpointingService.scala:12-168);
                      the carry tail itself is persisted per batch as
                      parquet generations under
                      `<checkpoint>/tsp_carry/<batch_id>` and reloaded
                      on restart, so cross-boundary window state
                      survives a driver crash too
* incident merge    → incidents emitted per micro-batch are sessionized
                      downstream by the sink-side `sessionize_intervals`
                      over the re-emitted overlap region; emitted
                      (pattern_id, keys, from, to) rows are idempotent
                      on replay (deterministic values), so an
                      at-least-once sink dedups on those columns.

This wraps the batch compiler rather than `transformWithStateInPandas`
because every TSP pattern is bounded-memory in *event time*: a carry
buffer of `sum(windows) + max_gap` per key is semantically complete,
and it keeps one code path for batch and streaming (the same Catalyst
plan, whole-stage codegen, no Python state server in the hot path).
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tsp_spark.api import RawPattern, search_incidents


@dataclass
class StreamingPatternJob:
    """Config for a streaming pattern-search job."""

    patterns: Sequence[RawPattern]
    keys: Sequence[str]
    ts: str
    fields_types: dict[str, str] | None = None
    events_max_gap_ms: int = 60_000
    session_gap_ms: int = 2_000
    # how much event-time history must be re-evaluated across batch
    # boundaries; None = auto (sum of pattern windows + max gap)
    carry_ms: int | None = None
    watermark_delay: str = "1 minute"
    # source-side reshaping (SourceDataTransformation.scala:9-24) applied
    # per micro-batch over carry+batch: a DataFrame→DataFrame callable
    # (e.g. partial(unfold_narrow, ...) or partial(forward_fill, ...));
    # its fill/timeout window must be covered by transform_window_ms so
    # the carry buffer retains enough history to re-fill correctly
    transform: Callable[[DataFrame], DataFrame] | None = None
    transform_window_ms: int = 0
    # evict a key's carry once its own max event time falls this far
    # behind the global max event time of the evaluation frame. None
    # (default) = never evict: keys may legitimately lag arbitrarily
    # (a backfilled series, a slow device) and the reference likewise
    # keeps per-key state machines alive for the job's lifetime. Set
    # it when key cardinality is unbounded (e.g. session ids) so carry
    # size is bounded by the active-key set instead of lifetime keys.
    idle_timeout_ms: int | None = None
    # hot-key mitigation for the per-batch evaluation (r10): passed
    # straight to search_incidents — the carry-mode micro-batch IS a
    # batch evaluation, so a 50%-hot key serializes it exactly like a
    # batch job; same opt-in, same exactness guarantees
    shard_ms: int | None = None


def _carry_depth_ms(job: StreamingPatternJob) -> int:
    if job.carry_ms is not None:
        return job.carry_ms
    # conservative analogue of PatternMetadata.sumWindowsMs: parse-free
    # upper bound — the largest time literal mentioned in any pattern
    # source text, times 4 (for/wait/lag/avg can stack), plus the gap.
    import re

    from tsp_spark.dsl.parser import _TIME_UNITS

    # the unit vocabulary comes from THE parser so it can never drift
    # (review-caught: a hand-copied list omitted 'milliseconds', so
    # such windows contributed 0 to the auto depth). Longest
    # alternatives first so 'seconds' isn't half-matched as 'sec'.
    alts = "|".join(sorted(_TIME_UNITS, key=len, reverse=True))
    worst = 0
    for p in job.patterns:
        for num, unit in re.findall(
            rf"(\d+(?:\.\d+)?)\s*({alts})\b", p.source_code, re.I
        ):
            worst = max(worst, int(float(num) * _TIME_UNITS[unit.lower()]))
    return worst * 4 + job.events_max_gap_ms + job.transform_window_ms


def incidents_stream(
    stream: DataFrame,
    job: StreamingPatternJob,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None = None,
    trigger_seconds: float = 1.0,
):
    """Run the pattern set over a streaming DataFrame; call ``sink`` with
    the incident DataFrame for every micro-batch.

    Returns the StreamingQuery. The carry buffer stays distributed — a
    localCheckpoint'ed tail DataFrame (bounded: carry_ms of event time
    per key) unioned onto the next micro-batch, so windows and
    sequences spanning batch boundaries are evaluated on complete data.
    Incidents overlapping the carry region can re-emit on the next
    batch with identical values; at-least-once sinks dedup on
    (pattern_id, keys, from_ts, to_ts).
    """
    spark = stream.sparkSession
    carry_ms = _carry_depth_ms(job)
    carry_root = f"{checkpoint_dir}/tsp_carry" if checkpoint_dir else None
    # per-query carried tail (a small cached DF). On (re)start the tail
    # is reloaded from the checkpoint dir INSIDE the first
    # process_batch call, where batch_id is known: after a crash the
    # replayed batch must see the carry that preceded it, i.e. the
    # newest committed generation with id STRICTLY LESS than the
    # replayed batch id. Loading the newest generation unconditionally
    # (the previous behavior) duplicated the tail when the driver died
    # after _save_carry(N) but before the offset commit: batch N
    # replayed on top of a carry that already contained batch N's
    # rows, corrupting window counts/sums and lag/idx ordering
    # (review-caught, r7 medium).
    state: dict = {"carry": None, "restored": False}

    wm = stream.withWatermark(job.ts, job.watermark_delay)
    keys = list(job.keys)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not state["restored"]:
            state["carry"] = _load_carry(spark, carry_root, before=batch_id)
            state["restored"] = True
        if not batch_df.take(1):
            return
        carry = state["carry"]
        to_unpersist: list[DataFrame] = []
        untouched = None
        if carry is not None:
            batch_df = batch_df.localCheckpoint(eager=True)
            to_unpersist.append(batch_df)
            # evaluate only keys with new rows: an untouched key's
            # carry is unchanged, so re-running it would re-emit the
            # identical incidents every trigger forever (review-caught).
            # NULL-SAFE key equality: a plain `on=keys` join never
            # matches NULL key values, so a NULL-keyed series' carry
            # would be classified untouched forever while its new rows
            # evaluate without their prefix — silently missing
            # incidents (batch mode groups NULL keys as one group;
            # review-caught r8)
            batch_keys = batch_df.select(
                *[F.col(k).alias(f"__bk_{k}") for k in keys]
            ).distinct()
            null_safe = functools.reduce(
                lambda a, b: a & b,
                [carry[k].eqNullSafe(batch_keys[f"__bk_{k}"]) for k in keys],
            )
            touched = carry.join(batch_keys, null_safe, "left_semi")
            untouched = carry.join(batch_keys, null_safe, "left_anti")
            df = touched.unionByName(batch_df)
        else:
            df = batch_df
        # one materialization reused by every action below (the old
        # lineage re-ran source read + transform up to 3× per batch)
        df = df.localCheckpoint(eager=True)
        to_unpersist.append(df)
        searched = job.transform(df) if job.transform is not None else df
        incidents = search_incidents(
            searched,
            job.patterns,
            keys,
            job.ts,
            fields_types=job.fields_types,
            max_gap_ms=job.events_max_gap_ms,
            session_gap_ms=job.session_gap_ms,
            shard_ms=job.shard_ms,
        )
        sink(incidents, batch_id)
        # retain the event-time tail as the next batch's prefix —
        # PER KEY: a key whose event time lags another must keep its
        # own carry_ms of history (a global max cutoff evicted slow
        # keys' tails entirely — review-caught), matching the
        # reference's per-key state machines
        keymax = F.max(F.col(job.ts)).over(Window.partitionBy(*keys))
        tail = (
            df.withColumn("__keymax", keymax)
            .where(
                F.col(job.ts)
                >= F.col("__keymax")
                - F.expr(f"INTERVAL {carry_ms} MILLISECONDS")
            )
            .drop("__keymax")
        )
        # untouched keys keep their previous tails (already exactly a
        # per-key tail — the invariant is maintained across batches)
        merged = tail.unionByName(untouched) if untouched is not None else tail
        if job.idle_timeout_ms is not None:
            gmax = df.agg(F.max(F.col(job.ts)).alias("m")).first()["m"]
            if gmax is not None:
                import datetime as _dt

                horizon = gmax - _dt.timedelta(
                    milliseconds=job.idle_timeout_ms
                )
                merged = (
                    merged.withColumn("__keymax", keymax)
                    .where(F.col("__keymax") >= F.lit(horizon))
                    .drop("__keymax")
                )
        new_carry = merged.localCheckpoint(eager=True)
        if carry_root is not None:
            _save_carry(new_carry, carry_root, batch_id)
        state["carry"] = new_carry
        if carry is not None:
            to_unpersist.append(carry)
        for cached in to_unpersist:
            cached.unpersist()

    writer = wm.writeStream.foreachBatch(process_batch).trigger(
        processingTime=f"{trigger_seconds} seconds"
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def _save_carry(tail: DataFrame, carry_root: str, batch_id: int) -> None:
    """Persist the carry tail durably next to the streaming checkpoint:
    one parquet dir per batch id (atomic via the _SUCCESS marker —
    foreachBatch replays an uncommitted batch with the SAME id, which
    simply overwrites its dir). Older generations are pruned, keeping
    two in case the newest write raced a crash."""
    spark = tail.sparkSession
    tail.write.mode("overwrite").parquet(f"{carry_root}/{batch_id}")
    fs, root, _ = _hadoop_fs(spark, carry_root)
    gens = sorted(
        int(st.getPath().getName())
        for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName().isdigit()
    )
    for old_id in gens[:-2]:
        fs.delete(_hadoop_path(spark, f"{carry_root}/{old_id}"), True)


def _load_carry(spark: SparkSession, carry_root: str | None, before: int):
    """Newest committed carry generation with id STRICTLY LESS than
    ``before`` (the first batch id this query will process), or None.

    The bound is what makes crash replay exact: if the driver died
    after ``_save_carry(N)`` but before Structured Streaming committed
    batch N's offsets, batch N replays — and must be evaluated against
    the carry that preceded it (generation < N), not the generation it
    already produced (which contains batch N's own tail and would
    duplicate every replayed row inside one evaluation frame). Two
    generations are retained precisely so N-1 is still present after
    N was written. Works on any Hadoop-compatible filesystem (the
    checkpoint dir's)."""
    if carry_root is None:
        return None
    fs, root, _ = _hadoop_fs(spark, carry_root)
    if not fs.exists(root):
        return None
    gens = sorted(
        (
            gen_id
            for st in fs.listStatus(root)
            if st.isDirectory() and st.getPath().getName().isdigit()
            for gen_id in (int(st.getPath().getName()),)
            if gen_id < before
            and fs.exists(
                _hadoop_path(spark, f"{carry_root}/{gen_id}/_SUCCESS")
            )
        ),
        reverse=True,
    )
    if not gens:
        return None
    return spark.read.parquet(f"{carry_root}/{gens[0]}").localCheckpoint(
        eager=True
    )


def _hadoop_path(spark: SparkSession, path_str: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path_str)


def _hadoop_fs(spark: SparkSession, path_str: str):
    hpath = _hadoop_path(spark, path_str)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, spark._jvm


def stateful_incidents(stream: DataFrame, job: StreamingPatternJob) -> DataFrame:
    """True-incremental alternative to the carry buffer: every pattern's
    state machine runs inside ONE multi-pattern
    ``applyInPandasWithState`` kernel (streaming/stateful.py
    stateful_multi) — Spark allows a single stateful operator per
    streaming query, and the reference's topology is the same: one
    keyed stream fanned into N per-key state machines. N patterns cost
    one shuffle and one state store. Windowed sub-expressions, lag
    (including lag nested inside windowed aggregates and inside another
    lag's lookback, the latter via speculative branch forking), wait and
    nested andThen run as in-kernel condition programs. The kernel is
    not total: ``build_spec`` raises a ValueError for the shapes it
    cannot run, chiefly a ``for T`` timer or truth-stat under
    ``andThen``, ``wait`` or a boolean combinator (its docstring lists
    them), and such a job must use the carry-buffer mode
    (``incidents_stream``).

    Scale contrast with the carry mode: no driver-coordinated per-batch
    loop, no history re-evaluation — state is O(open runs) per key.
    Incident sessionization (session_gap merge) happens sink-side
    exactly as the carry mode's per-batch re-emits do: emitted rows are
    deterministic, so an at-least-once sink dedups on
    (pattern_id, keys, from_ts, to_ts).

    A key that goes idle closes by event-time timeout (``stateful_multi``)
    in the first data micro-batch after the watermark passes its last
    row + ``events_max_gap_ms``: ``get_spark`` turns off Spark's empty
    no-data micro-batch, so if the source stalls, closes that are due
    wait for the next data.
    """
    from tsp_spark.streaming.stateful import build_spec, stateful_multi

    cur = stream
    specs = []
    for p in job.patterns:
        cur, spec = build_spec(
            cur,
            p.source_code,
            list(job.keys),
            job.ts,
            fields_types=job.fields_types,
            max_gap_ms=job.events_max_gap_ms,
            pattern_id=p.id,
            subunit=p.subunit,
        )
        specs.append(spec)
    return stateful_multi(
        cur,
        specs,
        list(job.keys),
        job.ts,
        max_gap_ms=job.events_max_gap_ms,
        watermark_delay=job.watermark_delay,
    ).select("pattern_id", "subunit", *job.keys, "from_ts", "to_ts")
