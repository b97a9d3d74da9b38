"""High-level job API: patterns → incident DataFrame.

Mirrors the reference's job pipeline (streaming/.../PatternsSearchJob.scala):
per pattern — parse → compile → success intervals → incident rows with
pattern/unit metadata; then incident sessionization (adjacent incidents
of the same (pattern, unit, subunit) merged when the gap ≤
``session_gap_ms``, PatternsSearchJob.scala:259-305) and the
NewRowSchema-style output projection ($PatternID/$UUID/$IncidentStart/…,
streaming/.../mappers/PatternsToRowMapper.scala:54-70).

A multi-pattern ordered job compiles through ONE stacked plan since
r13 (compile_intervals_multi: one scan + one keyed exchange for every
pattern; the reference instead fans one stream out to N independent
state machines). Sharded branches and single-pattern jobs stay
independent Catalyst plans, each pruned to its own referenced columns
— and the full conditioned frame is never barrier-materialized either
way (see the comment in ``search_incidents``).
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Sequence
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tsp_spark.compile.compiler import PatternCompiler
from tsp_spark.dsl.parser import parse_pattern
from tsp_spark.ops.sessionize import sessionize_intervals


@dataclass
class RawPattern:
    """A submitted pattern (core/.../RawPattern.scala:3-8)."""

    id: int
    source_code: str
    subunit: int = 0
    metadata: dict[str, str] = field(default_factory=dict)


def referenced_fields(node) -> set[str]:
    """Field names a pattern AST references — PatternFieldExtractor
    parity (dsl/.../PatternFieldExtractor.scala:12-46), used to prune
    the source projection before the shared scan."""
    from tsp_spark.dsl import ast as A

    import dataclasses

    out: set[str] = set()

    def walk(n):
        if isinstance(n, A.Identifier) and n.name != "_":
            out.add(n.name)
        if dataclasses.is_dataclass(n):
            for f in dataclasses.fields(n):
                v = getattr(n, f.name)
                if isinstance(v, A.Node):
                    walk(v)
                elif isinstance(v, tuple):
                    for x in v:
                        if isinstance(x, A.Node):
                            walk(x)

    walk(node)
    return out


def _window_needs_rate(node) -> bool:
    """Does this pattern contain a windowed construct whose `auto` plan
    form depends on the MEASURED EVENT RATE? Any windowed AggregateCall
    or Wait qualifies (r14): below the 5-min wall-clock floor the rate
    decides whether a dense source must still take the O(n) forms (the
    r13 100 Hz × 2-min cliff), and ABOVE the floor it decides whether a
    sparse source may keep the cheap sliding frame (a one-event-per-
    10-hours key under a 6 hr window holds < 1 row per frame; the O(n)
    forms' fixed pipeline measured 2.7× the frame form's wall there —
    see compiler._long_window). ForWithInterval truth-stats stay O(n)
    unconditionally (integer prefix differences, no sentinel union) and
    Timer is run-start-based (no frame), so neither needs the rate.
    Used to trigger the auto probe even when no pattern is
    SHARD-eligible — a dense source under a 2-min `avg` needs the rate
    regardless of whether it sharded (r13, found by the --hz bench
    leg: max_gap_ms=None jobs never probed, so the rows-in-window gate
    silently never engaged)."""
    import dataclasses

    from tsp_spark.dsl import ast as A

    windowed = (
        isinstance(node, A.AggregateCall)
        and node.kind in ("avg", "sum", "count", "min", "max")
        and node.window_ms > 0
    ) or (isinstance(node, A.Wait) and node.window_ms > 0)
    if windowed:
        return True
    if dataclasses.is_dataclass(node):
        for f in dataclasses.fields(node):
            v = getattr(node, f.name)
            for x in v if isinstance(v, tuple) else (v,):
                if isinstance(x, A.Node) and _window_needs_rate(x):
                    return True
    return False


def is_row_local(node) -> bool:
    """True when a pattern AST evaluates row by row — no sequences,
    timers, truth-stat windows, `until`/`wait`, windowed aggregates or
    lags. Such a pattern's whole evaluation IS `ops.islands` over its
    boolean column, so it is eligible for the sharded hot-key kernel
    (`islands_sharded`); everything stateful needs the per-key ordered
    scan and falls back to the standard compiler path."""
    import dataclasses

    from tsp_spark.dsl import ast as A

    stateful = (
        A.AndThen, A.Timer, A.ForWithInterval, A.Until, A.Wait,
        A.AggregateCall,
    )

    def walk(n) -> bool:
        if isinstance(n, stateful):
            return False
        if dataclasses.is_dataclass(n):
            for f in dataclasses.fields(n):
                v = getattr(n, f.name)
                vs = v if isinstance(v, tuple) else (v,)
                for x in vs:
                    if isinstance(x, A.Node) and not walk(x):
                        return False
        return True

    return walk(node)


def _is_shardable_timer(node) -> bool:
    """A bare Timer whose inner condition is row-local: the simplest
    stateful shape whose lookback is provably bounded (window+max_gap);
    eligible for ops.islands.timer_islands_sharded. search_incidents
    uses it both for auto-shard eligibility and to route such patterns
    to that hand-written kernel; other stateful shapes go through
    _shardable_extents_ms."""
    from tsp_spark.dsl import ast as A

    return isinstance(node, A.Timer) and is_row_local(node.inner)


def _shardable_extents_ms(
    node, max_gap_ms: int
) -> tuple[int, int, bool] | None:
    """(lookback_ms, lookahead_ms, emits_present) row-history bounds
    for the sharded stateful kernel — the trailing and leading time
    windows a row's compiled value can depend on, each padded with a
    max_gap margin per window level, plus whether the TOP-LEVEL compile
    will carry a present mask (lag not swallowed by a Timer/Wait, which
    drop it) — or None when the pattern is not shardable. The present
    flag is conservative (true whenever a lag exists anywhere): the
    runtime branches on the COMPILED present anyway; the flag only
    decides whether the global series ids are precomputed.

    Shardable constructs and why the bound is EXACT (not just safe):

    * row-local expressions — extents 0 (incl. `until`, which compiles
      to ``left & ~right`` with no window of its own);
    * windowed aggregates avg/sum/count/min/max(x, T) — a half-open
      trailing range frame (GroupPattern semantics), back += T;
    * Timer `X for T` — the per-row truth is ``cond & (ts − run_start
      ≥ T)``: if the run truly reaches back T, the gap rule guarantees
      a run row inside ``(ts−T−max_gap, ts−T]`` (consecutive in-series
      rows are never more than max_gap apart), so a window seeing
      T+max_gap of history decides the THRESHOLD identically even when
      its local run_start is later than the true one;
    * ForWithInterval `X for T <op> N` — trailing range stats, a
      one-row lag whose predecessor is within max_gap (series density),
      and the `exactly` full-window gate ``ts − series_start ≥ T``,
      which is the same threshold-vs-density argument as Timer;
    * Wait `wait(T, X)` — a bounded LEADING range frame: fwd += T, and
      the row duplicates into PRECEDING shards instead (series breaks
      inside the lookahead are between present rows, so membership is
      decided identically).

    Nesting composes additively per direction along each AST path
    (a timer over a wait needs back(T_timer) history of rows whose own
    value needs fwd(T_wait) future), so extents sum down paths and max
    across siblings.

    * lag of either form (r10c) — over a ROW-LOCAL inner only. The
      value at a row is the newest enqueued value that became due
      (consume-once, PreviousValue.scala): with a row-local inner a
      value exists at every raw row, so the due value lies within
      (ts−T−max_gap, ts−T] (density), an absent run is bounded by
      max(T, max_gap)+max_gap (no emission at k consecutive rows means
      a raw-row-free back-window of the same width — impossible beyond
      that bound mid-series, and warmup is bounded by T), and the
      Segmentizer bridge reads the nearest emission on each side —
      all bounded, so back ≈ 2T and fwd ≈ T with several extra gap
      margins bought via the level counter. The PRESENT mask it emits
      is handled by the caller (absent rows drop before islandization,
      stitch keyed by the global series id — with_series_sharded).

    NOT shardable (returns None): AndThen (interval semantics, not a
    row boolean) and lag over a non-row-local inner (emission-gap
    bounds would compound in ways this analysis does not cover)."""
    from tsp_spark.dsl import ast as A

    def walk(n) -> tuple[int, int, int, bool] | None:
        if isinstance(n, (A.Constant, A.Identifier, A.TimeLiteral)):
            return (0, 0, 0, False)
        if isinstance(n, (A.Cast, A.Assert)):
            return walk(n.inner)
        if isinstance(n, (A.FunctionCall, A.ReducerCall, A.Until)):
            if isinstance(n, A.Until):
                children = [n.left, n.right]
            else:
                children = list(n.args)
                if isinstance(n, A.ReducerCall) and n.cond is not None:
                    children.append(n.cond)
            back = fwd = lev = 0
            present = False
            for ch in children:
                r = walk(ch)
                if r is None:
                    return None
                back, fwd, lev = (
                    max(back, r[0]), max(fwd, r[1]), max(lev, r[2])
                )
                present = present or r[3]
            return (back, fwd, lev, present)
        if isinstance(n, A.AggregateCall):
            if n.kind == "lag":
                if not is_row_local(n.inner):
                    return None
                t = n.window_ms
                # +4 levels buys extra gap margins on both sides for
                # the emission-gap and bridge bounds; fwd >= 1 forces
                # the forward margin even for lag1 (its bridge still
                # reads the next emission)
                return (2 * t, max(t, 1), 4, True)
            r = walk(n.inner)
            return None if r is None else (
                n.window_ms + r[0], r[1], r[2] + 1, r[3]
            )
        if isinstance(n, (A.Timer, A.ForWithInterval)):
            r = walk(n.inner)
            return None if r is None else (
                n.window_ms + r[0], r[1], r[2] + 1, r[3]
            )
        if isinstance(n, A.Wait):
            r = walk(n.inner)
            return None if r is None else (
                r[0], n.window_ms + r[1], r[2] + 1, r[3]
            )
        return None  # AndThen, unknown nodes

    r = walk(node)
    if r is None:
        return None
    back, fwd, levels, present = r
    margin = max_gap_ms * (levels + 1)
    return (back + margin, fwd + (margin if fwd else 0), present)


def _sharded_stateful_intervals(
    raw_src: DataFrame,
    keys: Sequence[str],
    ts: str,
    fields_types: dict[str, str],
    node,
    max_gap_ms: int,
    shard_ms: int,
    lookback_ms: int,
    lookahead_ms: int = 0,
    keep: bool | None = True,
    may_emit_present: bool = False,
    window_agg: str = "auto",
    event_rate_hz: float | None = None,
    forms_sink: list | None = None,
) -> DataFrame:
    """Evaluate a bounded-lookback stateful pattern with the row work
    sharded by (key, time-shard) — the r10 generalization of
    ops.islands.timer_islands_sharded to the whole trailing-window
    grammar (the accums flagship shapes).

    Each row duplicates (map-only explode, ~1 + lookback/shard_ms
    copies) into the following shard(s) whose lookback region contains
    it; the UNMODIFIED compiler then evaluates the pattern with
    ``__tshard`` as an extra partition key — every window/lag/series
    split it builds is confined to (key, shard) and sees exactly the
    history the lookback guarantees sufficient (see
    _shardable_extents_ms for the per-construct exactness arguments).
    Overlap copies drop after their lookback job; the stitch reuses
    the shard column (no second row shuffle). Property-tested
    byte-identical to the ordered path across shard sizes
    (tests/test_islands.py)."""
    from tsp_spark.ops.islands import islands_sharded

    ms = F.unix_millis(F.col(ts))
    # a row at ts is needed by every shard whose owned rows' dependency
    # interval [r - lookback, r + lookahead] contains it: shards from
    # floor((ts - lookahead)/shard) through floor((ts + lookback)/shard)
    expanded = raw_src.withColumn(
        "__tshard",
        F.explode(
            F.sequence(
                F.floor((ms - F.lit(lookahead_ms)) / F.lit(shard_ms)),
                F.floor((ms + F.lit(lookback_ms)) / F.lit(shard_ms)),
            )
        ),
    )
    comp = PatternCompiler(
        list(keys) + ["__tshard"], ts, fields_types, max_gap_ms,
        window_agg=window_agg, event_rate_hz=event_rate_hz,
    )
    if forms_sink is not None:
        # surface this branch's per-aggregate form decisions alongside
        # the main compiler's (VERDICT r13 Next #8)
        comp.window_forms = forms_sink
    src = comp.with_series(expanded)
    c = comp.compile_bool(src, node)
    own_filter = F.col("__tshard") == F.floor(
        F.unix_millis(F.col(ts)) / F.lit(shard_ms)
    )
    if c.present is None:
        owned = c.df.withColumn("__scond", c.col).where(own_filter)
        return islands_sharded(
            owned, keys, ts, F.col("__scond"), max_gap_ms,
            keep=keep, shard_ms=shard_ms, shard_col="__tshard",
        )
    assert may_emit_present, (
        "compile produced a present mask but _shardable_extents_ms did "
        "not flag the pattern as lag-carrying"
    )
    # present-producing patterns (lag forms, r10c; restructured r11):
    # absent rows are INVISIBLE to islandization — equal-valued runs
    # merge across them (SegmentizerPattern) — so they drop before
    # islandizing, and the gap rule must NOT re-split (absence can
    # stretch two present rows past max_gap within one series). The
    # stitch therefore needs a GLOBAL series id. r10 precomputed it
    # with a separate pass + a (key, shard) join onto every row
    # (ops.islands.with_series_sharded) — measured as most of this
    # path's uniform-key constant (~3 full-data shuffles vs the
    # ordered path's 1; docs/SCALE.md r11). Now the id is decomposed
    # on the compiler's OWN (keys, __tshard) partitioning:
    #
    # * per-row break flag over the expanded frame — exact for owned
    #   rows because the lookback carries >= max_gap of raw history
    #   (margin >= (levels+1) gaps), so a null lag means "no raw row
    #   within lookback" which itself implies a break (or the key's
    #   true first row, which both sides count as a break — the
    #   prefix below uses the same convention, so ids stay aligned);
    # * __lser = running count of breaks at OWNED rows (window over
    #   the partitioning the compiler already exchanged — no shuffle);
    # * per-(key, shard) break totals -> per-key prefix sums computed
    #   from the RAW (keys, ts) projection, NOT from the compiled
    #   frame: the compiled subtree is the expensive part, and feeding
    #   the prefix from it would evaluate that whole pipeline a second
    #   time for the island join (measured 2-6x on the uniform-key
    #   bench, docs/SCALE.md r11). A narrow raw scan + one (key,
    #   shard)-windowed pass + a window over SHARD SUMMARIES (rows =
    #   occupied shards) is the cheap equivalent;
    # * within-shard islands keyed by (keys, shard, __lser) — the
    #   subset partitioning is already satisfied, so no row exchange;
    # * the prefix joins onto the ISLAND table (runs, not rows) to
    #   form the global id, and the stitch merges across shards.
    #
    # Net: ONE full-data exchange of the compiled pipeline plus one
    # NARROW raw exchange, vs r10's three full-width exchanges.
    from tsp_spark.ops.islands import islands, stitch_sharded_islands

    own_shard = F.floor(F.unix_millis(F.col(ts)) / F.lit(shard_ms))
    w = Window.partitionBy(*keys, "__tshard").orderBy(ts)
    row_ms = F.unix_millis(F.col(ts))
    prev_ms = F.lag(row_ms).over(w)
    brk = prev_ms.isNull() | (row_ms - prev_ms > F.lit(max_gap_ms))
    owned_all = (
        c.df.withColumn("__scond", c.col)
        .withColumn("__spres", c.present)
        .withColumn(
            "__lser",
            F.sum(
                F.when(brk & (F.col("__tshard") == own_shard), F.lit(1))
                .otherwise(F.lit(0))
            ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .where(own_filter)
    )
    # raw-side prefix: per occupied (key, shard) — within-shard breaks
    # among consecutive raw rows plus the boundary break at the shard's
    # first row (vs the previous occupied shard's last row; the key's
    # first shard counts 1, matching the expanded side's null-lag
    # convention). Aggregated BEFORE any present filter — absent rows
    # still carry series breaks.
    raw_ms = F.unix_millis(F.col(ts))
    wp = Window.partitionBy(*keys, "__psh").orderBy(ts)
    shard_sum = (
        raw_src.select(*keys, F.col(ts))
        .withColumn("__psh", F.floor(raw_ms / F.lit(shard_ms)))
        .withColumn(
            "__b",
            F.coalesce(
                (raw_ms - F.lag(raw_ms).over(wp) > F.lit(max_gap_ms))
                .cast("long"),
                F.lit(0),
            ),
        )
        .groupBy(*keys, "__psh")
        .agg(
            F.sum("__b").alias("__breaks"),
            F.min(raw_ms).alias("__first"),
            F.max(raw_ms).alias("__last"),
        )
    )
    wsh = Window.partitionBy(*keys).orderBy("__psh")
    prev_last = F.lag("__last").over(wsh)
    boundary = F.when(prev_last.isNull(), F.lit(1)).otherwise(
        (F.col("__first") - prev_last > F.lit(max_gap_ms)).cast("long")
    )
    prefix = (
        shard_sum.withColumn("__t", boundary + F.col("__breaks"))
        .withColumn(
            "__p",
            F.coalesce(
                F.sum("__t").over(
                    wsh.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select(*keys, F.col("__psh").alias("__tshard"), "__p")
    )
    pres = owned_all.where(F.coalesce(F.col("__spres"), F.lit(False)))
    part = islands(
        pres, [*keys, "__tshard", "__lser"], ts, F.col("__scond"),
        max_gap_ms=None, keep=None,
    )
    isl = (
        part.join(prefix, [*keys, "__tshard"])
        .withColumn("__gser", F.col("__lser") + F.col("__p"))
        .drop("__lser", "__p")
    )
    return stitch_sharded_islands(
        isl, [*keys, "__gser"], None, keep, "__tshard"
    ).drop("__gser")


# --- auto hot-key mitigation (r11) -----------------------------------
#
# shard_ms="auto" (the default) probes the source for a hot key and
# enables the sharded kernels without the manual flag. Thresholds:
#
# * AUTO_PROBE_MIN_BYTES — plan-stats gate (FREE: no Spark job). The
#   probe aggregation only runs when Catalyst reports a FINITE source
#   size at least this large; tiny frames (every sf0.01/sf0.1 oracle
#   query) and unknown-size sources (JDBC, RDD-backed — where a probe
#   scan could be arbitrarily expensive) keep the ordered path with
#   zero extra work.
# * AUTO_HOT_ROWS_MIN — a key whose row count exceeds this serializes
#   ~1 s of single-task window work (islands kernel ≈ 2.6M rows/s,
#   docs/SCALE.md); below it the ordered path is already fine. This is
#   deliberately a per-key VOLUME bound, not a skew fraction: a uniform
#   100-key 1B-row job hits the same one-task wall on every key.
# * AUTO_TARGET_ROWS_PER_SHARD / AUTO_MIN_SHARDS — the chosen shard
#   width splits the hottest key's own time span into
#   max(hot_rows/target, min_shards) pieces, clamped per pattern so the
#   overlap-explode duplication factor 1 + lookback/shard_ms stays ≤
#   ~1.125 (shard ≥ 8× the pattern's extent).
#
# Auto mode only shards PRESENT-FREE shapes (row-local predicates,
# timers, windowed aggregates/for-interval stats, wait/until nestings,
# fused andThen chains): those are measured penalty-free on uniform
# keys (docs/SCALE.md r10g). Lag/present patterns pay a ~2.9× uniform
# constant, so they shard only under an EXPLICIT shard_ms int.

AUTO_PROBE_MIN_BYTES = 128 << 20
AUTO_HOT_ROWS_MIN = 2_000_000
AUTO_TARGET_ROWS_PER_SHARD = 250_000
AUTO_MIN_SHARDS = 32

# r12 (VERDICT r11 Next #5 / ADVICE): the probe used to re-run on every
# search_incidents call — a repeated ~0.4 s scan for a long-lived
# service re-submitting against the same large source. Decisions now
# memoize per (md5 of the canonicalized analyzed plan, file-index
# signature, keys, ts): canonicalization normalizes expression ids, so
# two reads of the same parquet path with the same pruned projection
# share one probe, while an APPEND to a file source (new parquet files
# — the way a source grows a new hot key) changes the signature and
# re-probes immediately instead of waiting out the TTL (r13, ADVICE
# r12). TTL-bounded anyway because non-file sources (JDBC/RDD) have no
# file signature and in-place rewrites keep the same file names.
AUTO_PROBE_CACHE_TTL_S = 600.0
AUTO_PROBE_CACHE_MAX = 256
# key -> (decided_at_monotonic, shard decision, probe stats). An
# OrderedDict LRU guarded by a lock (r13, ADVICE r12: the old dict
# cleared WHOLESALE at capacity — discarding fresh entries with stale
# ones — and was mutated bare under concurrent submitters).
_auto_probe_cache: OrderedDict[tuple, tuple[float, int | None, dict | None]] = (
    OrderedDict()
)
_auto_probe_lock = threading.Lock()


def clear_auto_probe_cache() -> None:
    with _auto_probe_lock:
        _auto_probe_cache.clear()


def _note_probe_error(
    errors: dict[str, str] | None, site: str, exc: Exception
) -> None:
    """Record a swallowed auto-probe failure under ``site`` so it reaches
    the job's decision record (``probe_errors``) instead of silently
    keeping a hot-key job on the unsharded path."""
    if errors is not None:
        errors[site] = f"{type(exc).__name__}: {exc}"[:500]


def _file_signature(
    raw_src: DataFrame, errors: dict[str, str] | None = None
) -> str | None:
    """Cheap content signature for FILE-backed sources: md5 over the
    sorted input-file list (count + names; names are immutable-once-
    written for parquet, so appends and compactions both change the
    signature). The listing comes from the already-materialized
    FileIndex — no data scan. None for non-file sources (JDBC, RDD,
    LocalRelation) where inputFiles() is empty or unavailable."""
    import hashlib

    try:
        files = raw_src.inputFiles()
    except Exception as exc:  # py4j surface varies
        _note_probe_error(errors, "file_signature", exc)
        return None
    if not files:
        return None
    h = hashlib.md5()
    for f in sorted(files):
        h.update(f.encode())
    return h.hexdigest()


def _cached_auto_shard(
    raw_src: DataFrame,
    keys: Sequence[str],
    ts: str,
    errors: dict[str, str] | None = None,
) -> tuple[int | None, dict | None, bool, float]:
    """(decided shard width, probe stats, came-from-cache, entry age in
    seconds). Keys on an md5 of the CANONICALIZED analyzed plan string
    (expression ids normalized) — `semanticHash()` alone is 32-bit, and
    a long-lived service cycling many distinct sources (this cache's
    exact audience) could collide two plans and silently reuse the
    wrong decision for a TTL — plus the file-index signature so a
    file-source append invalidates immediately. Falls back to an
    uncached probe when the plan refuses to stringify (exotic py4j
    surface); swallowed failures land in ``errors``. The probe itself
    runs OUTSIDE the lock (it is a Spark job); two racing first callers
    may both probe, which is benign — last write wins with an identical
    decision."""
    import hashlib
    import time as _time

    try:
        canon = (
            raw_src._jdf.queryExecution().analyzed().canonicalized().toString()
        )
        cache_key = (
            hashlib.md5(canon.encode()).hexdigest(),
            _file_signature(raw_src, errors),
            tuple(keys),
            ts,
        )
    except Exception as exc:  # py4j surface varies
        _note_probe_error(errors, "plan_cache_key", exc)
        cache_key = None
    now = _time.monotonic()
    if cache_key is not None:
        with _auto_probe_lock:
            hit = _auto_probe_cache.get(cache_key)
            if hit is not None and now - hit[0] <= AUTO_PROBE_CACHE_TTL_S:
                _auto_probe_cache.move_to_end(cache_key)
                return hit[1], hit[2], True, now - hit[0]
    stats = probe_hot_key(raw_src, keys, ts)
    decision = auto_shard_ms(stats)
    if cache_key is not None:
        with _auto_probe_lock:
            while len(_auto_probe_cache) >= AUTO_PROBE_CACHE_MAX:
                _auto_probe_cache.popitem(last=False)  # LRU eviction
            _auto_probe_cache[cache_key] = (now, decision, stats)
    return decision, stats, False, 0.0


def _plan_size_bytes(
    df: DataFrame, errors: dict[str, str] | None = None
) -> int | None:
    """Catalyst's sizeInBytes estimate for the optimized plan — free
    (statistics only, no job). None when unavailable or when the
    estimate is the 'unknown' sentinel (spark.sql.defaultSizeInBytes =
    Long.MaxValue propagates through plans with any unknown leaf)."""
    try:
        size = (
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        # py4j maps scala.math.BigInt to a Python int when it fits; fall
        # back to toString for the huge-sentinel case
        size = int(size) if isinstance(size, int) else int(size.toString())
    except Exception as exc:  # py4j surface varies
        _note_probe_error(errors, "plan_size", exc)
        return None
    # Long.MaxValue (or anything absurd) means "unknown", not "huge"
    return size if 0 <= size < (1 << 62) else None


def probe_hot_key(
    raw_src: DataFrame, keys: Sequence[str], ts: str
) -> dict | None:
    """One narrow two-level aggregation over (keys, ts): total rows,
    the hottest key's row count, and THAT key's own time span (max_by —
    the span that bounds how many time shards its rows can spread
    over). Map-side partial aggregation makes the shuffle one row per
    key; the scan reads only the key and ts columns (columnar prune)."""
    from tsp_spark.compile.compiler import PREFIX_WINDOW_AGG_MIN_ROWS

    ms = F.unix_millis(F.col(ts))
    per_key = raw_src.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(ms).alias("__mn"),
        F.max(ms).alias("__mx"),
    )
    # max_rate_hz (r14): the DENSEST key's average rate, restricted to
    # keys that could actually form a ≥ PREFIX_WINDOW_AGG_MIN_ROWS
    # frame (a key with fewer rows than the gate can never exceed it,
    # whatever its rate — a 2-row key with a 1 ms span is not a 2 kHz
    # source). This is the quantity the compiler's rows-in-window gate
    # wants: the HOTTEST key (most rows) can be sparse while a shorter-
    # span key is dense, and the frame-form cost lands on the dense
    # one. Duplicate-timestamp keys (span 0) clamp to a huge rate —
    # conservative, the O(n) forms are merely fixed-cost there.
    dense_rate = F.when(
        F.col("__n") >= PREFIX_WINDOW_AGG_MIN_ROWS,
        F.col("__n").cast("double")
        * 1000.0
        / F.greatest(F.col("__mx") - F.col("__mn"), F.lit(1)),
    )
    row = per_key.agg(
        F.sum("__n").alias("total"),
        F.max("__n").alias("hot"),
        F.max_by(F.struct("__mn", "__mx"), "__n").alias("hot_span"),
        F.max(dense_rate).alias("max_rate"),
    ).first()
    if row is None or row["total"] is None:
        return None
    return {
        "total_rows": int(row["total"]),
        "hot_rows": int(row["hot"]),
        "hot_span_ms": int(row["hot_span"]["__mx"] - row["hot_span"]["__mn"]),
        # 0.0 = "measured, and no key is dense enough to ever cross the
        # rows-in-window gate" — distinct from None/absent (not measured)
        "max_rate_hz": (
            float(row["max_rate"]) if row["max_rate"] is not None else 0.0
        ),
    }


def auto_shard_ms(stats: dict | None) -> int | None:
    """Decide the base shard width from a probe_hot_key result, or None
    for 'keep the ordered path'. See the threshold rationale above."""
    if stats is None or stats["hot_rows"] < AUTO_HOT_ROWS_MIN:
        return None
    if stats["hot_span_ms"] <= 0:
        return None
    n_shards = max(
        AUTO_MIN_SHARDS, stats["hot_rows"] // AUTO_TARGET_ROWS_PER_SHARD
    )
    return max(1, stats["hot_span_ms"] // n_shards)


def _clamp_shard_ms(base_ms: int, extent_ms: int) -> int:
    """Per-pattern floor: keep the overlap-explode duplication factor
    1 + extent/shard at ≤ ~1.125 (and the islands stitch chains short)
    by never sharding finer than 8× the pattern's time extent."""
    return max(int(base_ms), 8 * int(extent_ms)) if extent_ms else int(base_ms)


def _shardable_andthen_chain(node, max_gap_ms: int) -> list | None:
    """Operand list [A, B, …] of a LEFT-nested fused ``andThen`` chain
    whose every operand is bounded-extent shardable, or None. Mirrors
    compile_intervals' structure exactly: the left side recurses, the
    right side islandizes directly — a right-nested AndThen goes
    through a different compile branch, so chains with AndThen
    anywhere inside an operand fall back to the ordered path."""
    from tsp_spark.dsl import ast as A

    def contains_andthen(n) -> bool:
        import dataclasses

        if isinstance(n, A.AndThen):
            return True
        if dataclasses.is_dataclass(n):
            for f in dataclasses.fields(n):
                v = getattr(n, f.name)
                for x in v if isinstance(v, tuple) else (v,):
                    if isinstance(x, A.Node) and contains_andthen(x):
                        return True
        return False

    if not isinstance(node, A.AndThen):
        return None

    def contains_lag(n) -> bool:
        import dataclasses

        if isinstance(n, A.AggregateCall) and n.kind == "lag":
            return True
        if dataclasses.is_dataclass(n):
            for f in dataclasses.fields(n):
                v = getattr(n, f.name)
                for x in v if isinstance(v, tuple) else (v,):
                    if isinstance(x, A.Node) and contains_lag(x):
                        return True
        return False

    def operand_ok(n) -> bool:
        # lag operands are excluded even though they shard standalone:
        # the adjacency join's successor trick needs keep=None islands
        # that TILE the raw rows, and present-masked islandization
        # drops absent rows — idx adjacency there counts raw rows the
        # islands no longer see
        return (
            not contains_andthen(n)
            and not contains_lag(n)
            and _shardable_extents_ms(n, max_gap_ms) is not None
        )

    if isinstance(node.left, A.AndThen):
        left_ops = _shardable_andthen_chain(node.left, max_gap_ms)
        if left_ops is None:
            return None
    else:
        if not operand_ok(node.left):
            return None
        left_ops = [node.left]
    if not operand_ok(node.right):
        return None
    return left_ops + [node.right]


def _sharded_operand_with_succ(
    raw_src: DataFrame,
    keys: Sequence[str],
    ts: str,
    fields_types: dict[str, str],
    node,
    max_gap_ms: int,
    shard_ms: int,
    compiler: PatternCompiler,
) -> DataFrame:
    """One ``andThen`` operand as a sharded interval table carrying the
    time-local adjacency fields: (keys…, from_ts, to_ts, end_row_ts,
    succ_ts). ``succ_ts`` is the SAME-SERIES raw successor of the
    run's last row — with keep=None the stitched islands TILE every
    raw row, so the successor is simply the next island's from_ts when
    the inter-island gap obeys the gap rule (one lead() over the tiny
    RLE island table, the stitch's own cost profile — never a row-level
    window)."""
    from pyspark.sql import Window

    from tsp_spark.ops.islands import islands_sharded

    if is_row_local(node):
        c = compiler.compile_bool(raw_src, node)
        if c.present is not None:
            raise AssertionError("row-local operand produced a present mask")
        allruns = islands_sharded(
            c.df, keys, ts, c.col, max_gap_ms, keep=None, shard_ms=shard_ms
        )
    else:
        ext = _shardable_extents_ms(node, max_gap_ms)
        assert ext is not None  # _shardable_andthen_chain pre-checked
        allruns = _sharded_stateful_intervals(
            raw_src, keys, ts, fields_types, node,
            max_gap_ms, shard_ms, ext[0], ext[1], keep=None,
            may_emit_present=ext[2], window_agg=compiler.window_agg,
            event_rate_hz=compiler.event_rate_hz,
        )
    w = Window.partitionBy(*keys).orderBy("from_ts")
    nxt = F.lead("from_ts").over(w)
    succ = F.when(
        F.unix_millis(nxt) - F.unix_millis(F.col("to_ts"))
        <= F.lit(max_gap_ms),
        nxt,
    )
    return (
        allruns.withColumn("succ_ts", succ)
        .where(F.col("cond_value").eqNullSafe(F.lit(True)))
        .select(
            *keys, "from_ts", "to_ts",
            F.col("to_ts").alias("end_row_ts"), "succ_ts",
        )
    )


def _sharded_andthen_join(
    a: DataFrame, b: DataFrame, keys: Sequence[str], max_gap_ms: int
) -> DataFrame:
    """Time-local reformulation of ops.sequence.and_then_intervals'
    idx-adjacency join (AndThenPattern.scala:69-88 match rule): with
    unique (keys, ts), idx order IS ts order, so

    * ``b_si <= a_ei + 1``  ⟺  ``b.from <= a.end_row OR
      b.from == succ(a.end_row)`` (succ is the same-series raw
      successor; a B starting at the cross-series successor must NOT
      match, and succ=NULL encodes that);
    * ``b_ei >= a_si``      ⟺  ``b.end_row >= a.from``;
    * same-series confinement is IMPLIED: overlapping runs share a
      break-free time range (each island never crosses a break, and
      overlap puts both inside the union of two break-free spans),
      and the disjoint case only matches through the gap-gated succ.

    Pairing (earliest B per A, then earliest A per B) partitions by
    the interval's from_ts — bijective with start_idx per key. The
    chained result carries end_row_ts = the later operand end and that
    operand's succ, exactly ``end_idx = greatest(a_ei, b_ei)``."""
    from pyspark.sql import Window

    aa = a.select(
        *keys,
        F.col("from_ts").alias("__a_from"),
        F.col("to_ts").alias("__a_to"),
        F.col("end_row_ts").alias("__a_end"),
        F.col("succ_ts").alias("__a_succ"),
    )
    bb = b.select(
        *keys,
        F.col("from_ts").alias("__b_from"),
        F.col("to_ts").alias("__b_to"),
        F.col("end_row_ts").alias("__b_end"),
        F.col("succ_ts").alias("__b_succ"),
    )
    joined = aa.join(bb, on=[*keys], how="inner").where(
        (F.col("__b_end") >= F.col("__a_from"))
        & (
            (F.col("__b_from") <= F.col("__a_end"))
            | (F.col("__b_from") == F.col("__a_succ"))
        )
    )
    w_a = Window.partitionBy(*keys, "__a_from").orderBy("__b_from")
    w_b = Window.partitionBy(*keys, "__b_from").orderBy("__a_from")
    paired = (
        joined.withColumn("__rb", F.row_number().over(w_a))
        .where(F.col("__rb") == 1)
        .withColumn("__ra", F.row_number().over(w_b))
        .where(F.col("__ra") == 1)
    )
    b_later = F.col("__b_end") >= F.col("__a_end")
    return paired.select(
        *keys,
        F.col("__a_from").alias("from_ts"),
        F.col("__b_to").alias("to_ts"),
        F.greatest("__a_end", "__b_end").alias("end_row_ts"),
        F.when(b_later, F.col("__b_succ"))
        .otherwise(F.col("__a_succ"))
        .alias("succ_ts"),
    )


def search_incidents(
    df: DataFrame,
    patterns: Sequence[RawPattern],
    keys: Sequence[str],
    ts: str,
    unit_col: str | None = None,
    fields_types: dict[str, str] | None = None,
    max_gap_ms: int | None = 60_000,
    session_gap_ms: int = 2_000,
    tolerance_fraction: float = 0.0,
    andthen_mode: str = "fused",
    shard_ms: int | str | None = "auto",
    window_agg: str = "auto",
    decision_sink: dict | None = None,
) -> DataFrame:
    """Run every pattern over the keyed stream; return merged incidents:
    ``pattern_id, subunit, keys…, from_ts, to_ts, n_merged``.

    ``andthen_mode``: "fused" (default, golden-pinned interval join) or
    "exact" (the reference's two-queue union+rewind consumption,
    AndThenPattern.scala:42-94 — see ops/sequence.py and
    docs/SEMANTICS.md §17 for when the two differ).

    ``shard_ms``: hot-key mitigation — row work partitions by (key,
    time-shard) instead of serializing each key into one task, exact at
    any shard size (property-fuzzed byte-identical; docs/SCALE.md).
    Auto-probe decisions memoize per (canonicalized source plan, keys,
    ts) for AUTO_PROBE_CACHE_TTL_S, so a long-lived service
    re-submitting against the same source pays the ~0.4 s probe scan
    once per TTL, not per call (r12). Pass ``decision_sink={}`` to
    receive the resolved decision (mode / eligible / probed /
    probe_cached / shard_ms, plus ``probe_errors`` — site -> exception
    class and message — when a probe step failed and was skipped) —
    the job service surfaces it in status.

    One carve-out (r12, docs/SEMANTICS.md §18): FLOAT ``sum``/``avg``
    at prefix-form windows (≥ 5 min under ``window_agg="auto"``)
    accumulate from the shard boundary rather than the series start,
    so ordered vs sharded may differ in the last ulp of float
    association; integer aggregates, counts, truth-stats, and min/max
    stay bit-exact. Use ``window_agg="frame"`` if bit-exact float
    parity across shard sizes matters more than the O(n·w) frame cost.

    * ``"auto"`` (default, r11): a free plan-stats gate plus one narrow
      probe aggregation detect a hot key at plan time and pick the
      shard width (see the AUTO_* constants above); only PRESENT-FREE
      shapes shard (lag pays a uniform-key constant, so it stays
      opt-in). Small/unknown-size sources and jobs with no hot key get
      plans identical to ``None``.
    * ``None``: never shard — the ordered per-key path everywhere.
    * int: force this shard width for every shardable pattern
      (including the lag/present path).

    The source projection is pruned to the union of referenced fields
    (the reference's PatternFieldExtractor). Plan shape (r13): a
    multi-pattern ORDERED job compiles through
    ``compile_intervals_multi`` — one scan + one keyed exchange for
    every pattern (the whole grammar stacks) with only the RLE-tiny
    runs table materialized; sharded branches and single-pattern jobs
    keep per-pattern plans, where each branch is pruned further by
    Catalyst to its own columns (narrow scans, no barrier — the full
    conditioned frame is never materialized, measured trade in the
    inline note below).
    """
    if fields_types is None:
        fields_types = {
            f.name: _dtype_tag(f.dataType.simpleString()) for f in df.schema.fields
        }
    compiler = PatternCompiler(
        keys, ts, fields_types, max_gap_ms, andthen_mode=andthen_mode,
        window_agg=window_agg,
    )
    nodes = [
        parse_pattern(p.source_code, fields_types, tolerance_fraction)
        for p in patterns
    ]
    used = set().union(*(referenced_fields(n) for n in nodes)) if nodes else set()
    used_l = {u.lower() for u in used}
    cols = [c for c in df.columns if c.lower() in used_l or c in keys or c == ts]
    raw_src = df.select(*cols)

    auto_mode = isinstance(shard_ms, str)
    if auto_mode:
        if shard_ms != "auto":
            raise ValueError(
                f"shard_ms must be an int, None or 'auto', got {shard_ms!r}"
            )

        def _auto_eligible(node) -> bool:
            if is_row_local(node):
                return True
            if max_gap_ms is None:
                return False
            if _is_shardable_timer(node):
                return True
            if (
                andthen_mode == "fused"
                and _shardable_andthen_chain(node, max_gap_ms) is not None
            ):
                return True
            ext = _shardable_extents_ms(node, max_gap_ms)
            return ext is not None and not ext[2]

        shard_ms = None
        note = {"mode": "auto", "eligible": False, "probed": False,
                "probe_cached": False, "shard_ms": None}
        shard_eligible = any(_auto_eligible(n) for n in nodes)
        note["eligible"] = shard_eligible
        # the probe serves TWO consumers: the shard-width decision
        # (only when a pattern shape is shard-eligible) and the
        # compiler's rows-in-window gate (whenever ANY windowed
        # aggregate/wait exists — r13 for the dense-source upgrade,
        # r14 for the sparse-source downgrade; see _window_needs_rate).
        # Size gates: sharding still requires a ≥ AUTO_PROBE_MIN_BYTES
        # source (tiny sources never shard, keeping their plans
        # byte-identical to shard_ms=None), but the FORM gate probes
        # any FINITE-size source — the probe is one narrow memoized
        # aggregation, proportional to the (keys, ts)-pruned scan, so
        # on a small source it costs milliseconds and on a large one
        # it is priced and TTL-memoized (docs/SCALE.md r14 probe cost
        # table). Unknown-size sources (JDBC/RDD: a probe scan could
        # be arbitrarily expensive) are still never probed.
        need_rate = any(_window_needs_rate(n) for n in nodes)
        # a failed size estimate or cache key would otherwise turn the
        # probe (and with it sharding) off without a trace: record it
        probe_errors: dict[str, str] = {}
        if shard_eligible or need_rate:
            size = _plan_size_bytes(raw_src, probe_errors)
            big = size is not None and size >= AUTO_PROBE_MIN_BYTES
            if big or (need_rate and size is not None):
                decision, pstats, cached, age_s = _cached_auto_shard(
                    raw_src, keys, ts, probe_errors
                )
                if shard_eligible and big:
                    shard_ms = decision
                note.update(probed=True, probe_cached=cached,
                            shard_ms=shard_ms,
                            probe_age_s=round(age_s, 1))
                # r13 (VERDICT r12 Next #1): feed the probe's measured
                # rate to the compiler's rows-in-window gate for the
                # O(n) window forms (a 100 Hz source under a 2-min
                # window must NOT stay on the O(n·w) frame just because
                # 2 min < 5 min). r14: the gate quantity is the
                # DENSEST gate-crossing key's rate (max_rate_hz — the
                # hottest key can be sparse while a shorter-span key
                # is dense), and it now also DOWNGRADES: a source
                # whose every key is too sparse to ever fill a
                # 1000-row frame keeps the cheap sliding frame even
                # for ≥ 5-min windows. Fall back to the hottest key's
                # rate for pre-r14 cached stats without the field.
                if pstats is not None and pstats["hot_span_ms"] > 0:
                    hot_rate = (
                        1000.0 * pstats["hot_rows"] / pstats["hot_span_ms"]
                    )
                    rate = pstats.get("max_rate_hz", hot_rate)
                    note["hot_rate_hz"] = round(hot_rate, 3)
                    note["max_rate_hz"] = round(rate, 3)
                    compiler.event_rate_hz = rate
        if probe_errors:
            note["probe_errors"] = probe_errors
        if decision_sink is not None:
            decision_sink.update(note)
    elif decision_sink is not None:
        decision_sink.update(
            {"mode": "ordered" if shard_ms is None else "explicit",
             "shard_ms": shard_ms}
        )

    def _shard_for(extent_ms: int) -> int:
        # explicit ints are honored verbatim (the parity fuzz sweeps
        # deliberately tiny shards); auto-chosen widths clamp per
        # pattern so the overlap duplication stays bounded
        assert shard_ms is not None
        return (
            _clamp_shard_ms(shard_ms, extent_ms) if auto_mode else shard_ms
        )

    src = compiler.with_series(raw_src)
    # Deliberately NO materialization barrier on the FULL conditioned
    # frame (persist/localCheckpoint of the row-level working set):
    # that was measured 36% slower on the 4-pattern flagship at sf0.1
    # (4.5 s vs 3.3 s warm), and at the 100 TB target it would write
    # the whole working set to executor disks. r13 gets the sharing a
    # different way: the ordered multi-pattern path stacks every
    # pattern onto ONE plan via compile_intervals_multi (one scan, one
    # keyed exchange; only the RLE-tiny runs table is ever
    # materialized), while sharded branches keep independent
    # Catalyst-pruned narrow scans.
    parts: list[DataFrame] = []
    # ordered-path patterns (the final else branch) collect here and
    # compile TOGETHER through compile_intervals_multi — one shared
    # scan + keyed exchange for the whole job instead of N divergent
    # branches (r13, VERDICT r12 Next #5)
    pending: list[tuple[RawPattern, object]] = []
    for p, node in zip(patterns, nodes):
        if shard_ms is not None and is_row_local(node):
            # row-local predicate: its evaluation IS islandization, so
            # run the sharded kernel on the PRE-series frame (the
            # series split is exactly the gap rule islands applies
            # itself; with_series' per-key window would reintroduce
            # the very serialization being avoided)
            from tsp_spark.ops.islands import islands_sharded

            c = compiler.compile_bool(raw_src, node)
            # is_row_local excludes every present-producing node kind
            # today; enforce the invariant rather than rely on it — a
            # future row-local node that sets a present mask would
            # otherwise have its absent rows silently treated as
            # condition-bearing rows by the sharded kernel
            if c.present is not None:
                raise AssertionError(
                    "islands_sharded requires a present-free compile; "
                    f"node {type(node).__name__} produced a present mask"
                )
            iv = islands_sharded(
                c.df, keys, ts, c.col, max_gap_ms,
                keep=True, shard_ms=_shard_for(max_gap_ms or 0),
            )
        elif (
            shard_ms is not None
            and max_gap_ms is not None
            and _is_shardable_timer(node)
        ):
            # bare timer over a row-local predicate: the hand-written
            # kernel (one window pass, no series/compiler machinery on
            # the expanded frame) — measured ~1.8x faster than routing
            # through the general path below on the 10M skew leg
            from tsp_spark.dsl import ast as A
            from tsp_spark.ops.islands import timer_islands_sharded

            assert isinstance(node, A.Timer)
            c = compiler.compile_bool(raw_src, node.inner)
            if c.present is not None:
                raise AssertionError(
                    "timer_islands_sharded requires a present-free "
                    f"compile; inner {type(node.inner).__name__} "
                    "produced a present mask"
                )
            iv = timer_islands_sharded(
                c.df, keys, ts, c.col, node.window_ms, max_gap_ms,
                keep=True,
                shard_ms=_shard_for(node.window_ms + max_gap_ms),
            )
        elif (
            shard_ms is not None
            and max_gap_ms is not None
            and andthen_mode == "fused"
            and (chain := _shardable_andthen_chain(node, max_gap_ms))
            is not None
        ):
            # fused andThen over shardable operands: each operand
            # islandizes sharded with a same-series successor column,
            # and the idx-adjacency join reformulates time-locally
            # (see _sharded_andthen_join) — no global row numbers, so
            # no per-key serialization anywhere; the exact two-queue
            # mode keeps the ordered path
            chain_extent = max(
                sum(ext[:2])
                if (ext := _shardable_extents_ms(op, max_gap_ms))
                else max_gap_ms
                for op in chain
            )
            op_ivs = [
                _sharded_operand_with_succ(
                    raw_src, keys, ts, fields_types, op,
                    max_gap_ms, _shard_for(chain_extent), compiler,
                )
                for op in chain
            ]
            iv = op_ivs[0]
            for right in op_ivs[1:]:
                iv = _sharded_andthen_join(iv, right, keys, max_gap_ms)
        elif (
            shard_ms is not None
            and max_gap_ms is not None
            and (ext := _shardable_extents_ms(node, max_gap_ms))
            is not None
            and not (auto_mode and ext[2])
        ):
            # bounded-extent stateful pattern (timers, windowed
            # aggregates, for-interval stats, wait, until — the accums
            # flagship shapes): history/future matter, but only
            # (lookback, lookahead) of them, so the row work shards by
            # (key, time-shard) and stays exact
            # (_sharded_stateful_intervals); sequences, jobs without
            # the gap rule, and — in auto mode — present-producing
            # (lag) shapes keep the ordered path below
            iv = _sharded_stateful_intervals(
                raw_src, keys, ts, fields_types, node,
                max_gap_ms, _shard_for(ext[0] + ext[1]), ext[0], ext[1],
                may_emit_present=ext[2], window_agg=window_agg,
                event_rate_hz=compiler.event_rate_hz,
                forms_sink=compiler.window_forms,
            )
        else:
            pending.append((p, node))
            continue
        parts.append(
            iv.select(
                F.lit(p.id).alias("pattern_id"),
                F.lit(p.subunit).alias("subunit"),
                *keys,
                "from_ts",
                "to_ts",
            )
        )
    fallback_pending: list[tuple[RawPattern, object]] = pending
    if len(pending) >= 2 and shard_ms is None:
        # multi-pattern ordered job: one shared scan/exchange for every
        # pattern — the whole grammar stacks (incl. present-producing
        # lag and exact-mode andThen since r13b); fallback tags are
        # kept for future non-stackable node kinds. When a hot key IS
        # known (shard_ms resolved non-None — probe-detected or
        # user-declared), the leftover unshardable patterns keep
        # per-pattern branches instead: under skew, N independent
        # branches run their serialized hot-key window tasks on N
        # cores, which measured ~1.3× faster than one shared exchange
        # serializing all slots into one task (docs/SCALE.md r13 skew
        # adjudication)
        bulk, fb_tags = compiler.compile_intervals_multi(
            src, [(i, node) for i, (_, node) in enumerate(pending)]
        )
        if bulk is not None:
            pid_col = F.lit(None).cast("int")
            sub_col = F.lit(None).cast("int")
            for i, (p, _) in enumerate(pending):
                tag_match = F.col("__tag") == i
                pid_col = F.when(tag_match, F.lit(p.id)).otherwise(pid_col)
                sub_col = F.when(tag_match, F.lit(p.subunit)).otherwise(sub_col)
            parts.append(
                bulk.select(
                    pid_col.alias("pattern_id"),
                    sub_col.alias("subunit"),
                    *keys,
                    "from_ts",
                    "to_ts",
                )
            )
        fallback_pending = [pending[i] for i in fb_tags]
    for p, node in fallback_pending:
        iv = compiler.compile_intervals(src, node)
        parts.append(
            iv.select(
                F.lit(p.id).alias("pattern_id"),
                F.lit(p.subunit).alias("subunit"),
                *keys,
                "from_ts",
                "to_ts",
            )
        )
    union = reduce(lambda a, b: a.unionByName(b), parts)
    merged = sessionize_intervals(
        union, ["pattern_id", "subunit", *keys], gap_ms=session_gap_ms
    )
    # incident id: "P#<pattern>;" + partition values
    # (ToIncidentsMapper.scala:19-20)
    incident_id = F.concat(
        F.lit("P#"),
        F.col("pattern_id").cast("string"),
        F.lit(";"),
        F.concat_ws(";", *[F.col(k).cast("string") for k in keys]),
    )
    out_cols = [
        "pattern_id", "subunit", *keys, "from_ts", "to_ts", "n_merged",
        incident_id.alias("incident_id"),
    ]
    if unit_col is not None and unit_col in keys:
        out_cols.append(F.col(unit_col).cast("int").alias("unit"))
    if decision_sink is not None:
        # which physical form each windowed aggregate actually compiled
        # to — "frame" / "prefix" (integer-exact) / "block" — so the
        # r13 wrong-form bug class is operator-visible from job status
        # instead of a plan autopsy (VERDICT r13 Next #8)
        decision_sink["window_forms"] = list(compiler.window_forms)
    return merged.select(*out_cols)


def incidents_to_rows(
    incidents: DataFrame,
    unit_col: str,
    app: int = 1,
) -> DataFrame:
    """NewRowSchema projection: the reference's sink row with
    $-interpolated values (SinkSchema.scala:28-62)."""
    return incidents.select(
        F.col(unit_col).cast("int").alias("series_storage"),
        F.lit(app).alias("app"),
        F.col("pattern_id").cast("long").alias("id"),
        F.col(unit_col).cast("int").alias("unit"),
        F.col("subunit").cast("int").alias("subunit"),
        F.expr("uuid()").alias("uuid"),
        F.col("from_ts").alias("from"),
        F.col("to_ts").alias("to"),
    )


def _dtype_tag(simple: str) -> str:
    from tsp_spark.io.conf import wire_tag_of

    return wire_tag_of(simple)
