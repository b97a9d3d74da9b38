from __future__ import annotations

from pyspark.sql import functions as F

from tsp_spark.ops import islands, sessionize_intervals, and_then


def _events(spark, mk_ts, rows):
    return spark.createDataFrame(
        [(u, mk_ts(t), float(v)) for (u, t, v) in rows], "unit string, ts timestamp, x double"
    )


def test_islands_basic(spark, mk_ts):
    df = _events(
        spark,
        mk_ts,
        [
            ("a", 0, 1), ("a", 1, 5), ("a", 2, 6),  # x>4 island [1,2]
            ("a", 3, 2), ("a", 4, 9),               # second island [4,4]
            ("b", 0, 7),                            # island [0,0]
        ],
    )
    out = islands(df, ["unit"], "ts", F.col("x") > 4, max_gap_ms=None).orderBy(
        "unit", "from_ts"
    )
    rows = [(r.unit, r.from_ts.second, r.to_ts.second, r.n_rows) for r in out.collect()]
    assert rows == [("a", 1, 2, 2), ("a", 4, 4, 1), ("b", 0, 0, 1)]


def test_islands_gap_split(spark, mk_ts):
    # continuous truth but a 120s gap splits the run (eventsMaxGapMs=60s)
    df = _events(spark, mk_ts, [("a", 0, 9), ("a", 30, 9), ("a", 150, 9)])
    out = islands(df, ["unit"], "ts", F.col("x") > 4, max_gap_ms=60_000)
    assert out.count() == 2


def test_islands_null_is_fail(spark, mk_ts):
    df = spark.createDataFrame(
        [("a", mk_ts(0), 9.0), ("a", mk_ts(1), None), ("a", mk_ts(2), 9.0)],
        "unit string, ts timestamp, x double",
    )
    out = islands(df, ["unit"], "ts", F.col("x") > 4, max_gap_ms=None)
    assert out.count() == 2  # NULL breaks the run


def test_sessionize(spark, mk_ts):
    df = spark.createDataFrame(
        [
            ("a", mk_ts(0), mk_ts(10)),
            ("a", mk_ts(11), mk_ts(20)),   # 1s gap → merged
            ("a", mk_ts(100), mk_ts(110)),  # 80s gap → separate
        ],
        "unit string, from_ts timestamp, to_ts timestamp",
    )
    out = sessionize_intervals(df, ["unit"], gap_ms=2_000).orderBy("from_ts").collect()
    assert len(out) == 2
    assert out[0].from_ts.second == 0 and out[0].to_ts.second == 20
    assert out[0].n_merged == 2


def test_and_then(spark, mk_ts):
    # A: x>4 on [1,2]; B: x<0 starting idx right after A's end → match
    df = _events(
        spark,
        mk_ts,
        [
            ("a", 0, 1), ("a", 1, 5), ("a", 2, 6), ("a", 3, -1), ("a", 4, -2),
            # unit b: B run starts 2 idx after A ends → no match
            ("b", 0, 5), ("b", 1, 1), ("b", 2, -1),
        ],
    )
    out = and_then(
        df, ["unit"], "ts", F.col("x") > 4, F.col("x") < 0, max_gap_ms=None
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.unit == "a" and r.from_ts.second == 1 and r.to_ts.second == 4


def test_and_then_respects_series_split(spark, mk_ts):
    """r6d (review-caught): the reference resets ALL state at a gap >
    max_gap_ms (PatternProcessor.scala:33-56) — an A-run ending just
    before the split must NOT match a B-run starting right after it,
    even though their per-key indices are adjacent."""
    df = _events(
        spark,
        mk_ts,
        [
            ("a", 0, 5), ("a", 10, 6), ("a", 20, 7),       # A-run
            ("a", 1000, -1), ("a", 1010, -2),              # B-run after split
        ],
    )
    out = and_then(
        df, ["unit"], "ts", F.col("x") > 4, F.col("x") < 0,
        max_gap_ms=60_000,
    ).collect()
    assert out == [], f"match across a series split: {out}"
    # same data, no split configured -> the adjacency match IS allowed
    out2 = and_then(
        df, ["unit"], "ts", F.col("x") > 4, F.col("x") < 0, max_gap_ms=None
    ).collect()
    assert len(out2) == 1


def test_and_then_schema_contract(spark, mk_ts):
    """r6d (review-caught): andThen output keeps the uniform interval
    schema (keys…, from_ts, to_ts, n_rows, start_idx, end_idx) and no
    internal columns leak from islands()."""
    df = _events(
        spark, mk_ts,
        [("a", 0, 5), ("a", 1, 6), ("a", 2, -1), ("a", 3, -2)],
    )
    out = and_then(
        df, ["unit"], "ts", F.col("x") > 4, F.col("x") < 0, max_gap_ms=None
    )
    assert out.columns == [
        "unit", "from_ts", "to_ts", "n_rows", "start_idx", "end_idx"
    ]
    r = out.collect()[0]
    assert r.n_rows == 4 and r.start_idx == 1 and r.end_idx == 4
    isl = islands(df, ["unit"], "ts", F.col("x") > 4, max_gap_ms=None)
    assert isl.columns == ["unit", "from_ts", "to_ts", "n_rows"]


def test_forward_fill_keeps_own_value(spark, mk_ts):
    """r6d (review-caught): expiry suppresses stale FILLS only — a
    row's own non-null value survives any timeout, including 0."""
    from tsp_spark.ops.fill import forward_fill

    df = spark.createDataFrame(
        [
            ("a", mk_ts(0), 5.0),
            ("a", mk_ts(10), None),
            ("a", mk_ts(20), 7.0),
        ],
        "unit string, ts timestamp, v double",
    )
    out = forward_fill(
        df, ["unit"], "ts", ["v"], default_timeout_ms=0
    ).orderBy("ts").collect()
    assert [r.v for r in out] == [5.0, None, 7.0]
    # boundary is STRICT (SEMANTICS.md rule 6): a fill exactly
    # timeout-old expires
    out2 = forward_fill(
        df, ["unit"], "ts", ["v"], default_timeout_ms=10_000
    ).orderBy("ts").collect()
    assert [r.v for r in out2] == [5.0, None, 7.0]
    out3 = forward_fill(
        df, ["unit"], "ts", ["v"], default_timeout_ms=10_001
    ).orderBy("ts").collect()
    assert [r.v for r in out3] == [5.0, 5.0, 7.0]


def test_islands_sharded_matches_unsharded(spark):
    """islands_sharded == islands on a hostile randomized series (3
    keys incl. a hot one, NULL conditions, gaps straddling shard
    boundaries), across shard sizes from one-second shards (every
    stitch chain maximal) to one shard total, with and without the
    gap rule, for keep=True and keep=None."""
    import random

    from tsp_spark.ops.islands import islands_sharded

    rng = random.Random(7)
    rows = []
    for key, n in (("hot", 400), ("k1", 60), ("k2", 1)):
        t = 0
        for _ in range(n):
            t += rng.choice([1, 1, 1, 5, 61, 200])  # seconds; gaps > 60s
            v = rng.choice([1.0, 9.0, 9.0, None])
            rows.append((key, t, v))
    df = spark.createDataFrame(
        [
            (k, __import__("datetime").datetime(2024, 1, 1)
             + __import__("datetime").timedelta(seconds=t), v)
            for k, t, v in rows
        ],
        "unit string, ts timestamp, x double",
    )
    cond = F.col("x") > 4
    for max_gap in (60_000, None):
        for keep in (True, None):
            want = sorted(
                map(tuple, islands(
                    df, ["unit"], "ts", cond, max_gap, keep=keep
                ).collect()),
                key=repr,
            )
            for shard_ms in (1_000, 47_000, 3_600_000, 10**12):
                got = sorted(
                    map(tuple, islands_sharded(
                        df, ["unit"], "ts", cond, max_gap,
                        keep=keep, shard_ms=shard_ms,
                    ).collect()),
                    key=repr,
                )
                assert got == want, (max_gap, keep, shard_ms)


def test_search_incidents_shard_ms_parity(spark):
    """search_incidents(shard_ms=...) returns byte-identical incidents
    to the default path on a skewed series, with a mixed job: the
    row-local predicate takes the sharded kernel, the timer over a
    row-local inner takes the sharded TIMER kernel (r10), and stateful
    shapes with no bounded lookback silently keep the standard
    compiler."""
    import datetime
    import random

    from tsp_spark.api import (
        RawPattern,
        _is_shardable_timer,
        is_row_local,
        search_incidents,
    )
    from tsp_spark.dsl.parser import parse_pattern

    ft = {"x": "float64"}
    assert is_row_local(parse_pattern("x > 4", ft, 0.0))
    assert is_row_local(parse_pattern("x + 1 > 4 and x < 100", ft, 0.0))
    assert not is_row_local(parse_pattern("x > 4 for 2 sec", ft, 0.0))
    assert not is_row_local(parse_pattern("avg(x, 10 sec) > 4", ft, 0.0))
    assert not is_row_local(parse_pattern("lag(x) > 4", ft, 0.0))
    assert _is_shardable_timer(parse_pattern("x > 4 for 2 sec", ft, 0.0))
    assert not _is_shardable_timer(
        parse_pattern("avg(x, 10 sec) > 4 for 2 sec", ft, 0.0)
    )
    assert not _is_shardable_timer(
        parse_pattern("x > 4 for 2 min > 30 sec", ft, 0.0)
    )

    rng = random.Random(11)
    rows = []
    for key, n in ((0, 3000), (1, 200), (2, 7)):
        t = 0
        for _ in range(n):
            t += rng.choice([1, 1, 1, 2, 61, 120])
            rows.append((
                key,
                datetime.datetime(2024, 1, 1)
                + datetime.timedelta(seconds=t),
                rng.choice([1.0, 9.0, 9.0, None]),
            ))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, x double")
    pats = [RawPattern(1, "x > 4"), RawPattern(2, "x > 4 for 2 sec")]
    want = sorted(
        map(tuple, search_incidents(
            df, pats, ["user_id"], "ts", fields_types=ft
        ).collect()),
        key=repr,
    )
    got = sorted(
        map(tuple, search_incidents(
            df, pats, ["user_id"], "ts", fields_types=ft, shard_ms=60_000
        ).collect()),
        key=repr,
    )
    assert got == want and len(want) > 0


def test_timer_islands_sharded_matches_compiler(spark):
    """timer_islands_sharded == the standard compiler path for
    `x > 4 for T` on a hostile randomized skewed series (NULLs, gaps
    straddling shard boundaries, runs longer and shorter than T),
    across shard sizes from 1 s (lookback spans many shards, every
    overlap chain maximal) to one shard total, for two T values."""
    import datetime
    import random

    from tsp_spark.api import RawPattern, search_incidents
    from tsp_spark.ops.islands import timer_islands_sharded

    rng = random.Random(23)
    rows = []
    for key, n in (("hot", 500), ("k1", 80), ("k2", 1)):
        t = 0
        for _ in range(n):
            t += rng.choice([1, 1, 1, 2, 5, 61, 200])
            rows.append((
                key,
                datetime.datetime(2024, 1, 1)
                + datetime.timedelta(seconds=t),
                rng.choice([1.0, 9.0, 9.0, 9.0, None]),
            ))
    df = spark.createDataFrame(rows, "unit string, ts timestamp, x double")
    cond = F.col("x") > 4
    for window_ms in (2_000, 10_000):
        # ground truth: the ordered per-key compiler path
        pat = [RawPattern(1, f"x > 4 for {window_ms // 1000} sec")]
        want = sorted(
            (r["unit"], r["from_ts"], r["to_ts"])
            for r in search_incidents(
                df, pat, ["unit"], "ts",
                fields_types={"x": "float64"}, session_gap_ms=0,
            ).collect()
        )
        for shard_ms in (1_000, 47_000, 3_600_000, 10**12):
            iv = timer_islands_sharded(
                df, ["unit"], "ts", cond, window_ms,
                max_gap_ms=60_000, shard_ms=shard_ms,
            )
            got = sorted(
                (r["unit"], r["from_ts"], r["to_ts"]) for r in iv.collect()
            )
            assert got == want, (window_ms, shard_ms)

    # argument validation
    import pytest

    with pytest.raises(ValueError, match="max_gap_ms"):
        timer_islands_sharded(
            df, ["unit"], "ts", cond, 2_000, max_gap_ms=None
        )
    with pytest.raises(ValueError, match="shard_ms"):
        timer_islands_sharded(
            df, ["unit"], "ts", cond, 2_000, shard_ms=0
        )


def test_sharded_stateful_parity_accums_shapes(spark):
    """The generalized sharded stateful path (r10,
    api._sharded_stateful_intervals) is byte-identical to the ordered
    compiler path for the accums flagship shapes — Timer, time-kind
    and times-kind ForWithInterval, and a windowed aggregate nested in
    a for-interval — on a hostile randomized skewed series, across
    shard sizes from one that splits every window to one-shard-total.
    Also pins the analyzer: bounded shapes shard, forward-looking /
    present-producing shapes return None and keep the ordered path."""
    import datetime
    import random

    from tsp_spark.api import (
        RawPattern,
        _shardable_extents_ms,
        search_incidents,
    )
    from tsp_spark.dsl.parser import parse_pattern

    ft = {"x": "float64"}
    g = 60_000
    for p in (
        "x > 4 for 30 sec",
        "x > 4 for 2 min > 1 min",
        "x = 1 for 2 min > 30 times",
        "avg(x, 30 sec) > 4 for 2 min > 1 min",
        "avg(x, 30 sec) > 4",
        "wait(30 sec, x > 4)",
        "x > 4 until x < 0",
        "lag(x) > 4",                 # r10c: present-masked shapes shard
        "lag(x, 10 sec) > 4",
    ):
        assert _shardable_extents_ms(parse_pattern(p, ft, 0.0), g), p
    for p in (
        "x > 4 andThen x < 0",
        "lag(avg(x, 10 sec)) > 4",    # lag over a windowed inner: ordered
    ):
        assert _shardable_extents_ms(parse_pattern(p, ft, 0.0), g) is None, p
    # extents compose additively per direction: a timer over a wait
    back, fwd, _pres = _shardable_extents_ms(
        parse_pattern("wait(30 sec, x > 4) for 2 min", ft, 0.0), g
    )
    assert back >= 120_000 and fwd >= 30_000, (back, fwd)

    rng = random.Random(41)
    rows = []
    for key, n in (("hot", 900), ("k1", 120), ("k2", 2)):
        t = 0
        # regime-switching values: long mostly-true stretches with
        # rare breaks, so timers/stats actually fire
        regime = 9.0
        for _ in range(n):
            t += rng.choice([5, 5, 5, 10, 61, 200])
            if rng.random() < 0.06:
                regime = rng.choice([1.0, 9.0, 9.0, None])
            rows.append((key, t, regime if rng.random() > 0.02 else 1.0))
    df = spark.createDataFrame(
        [
            (k, datetime.datetime(2024, 1, 1)
             + datetime.timedelta(seconds=t), v)
            for k, t, v in rows
        ],
        "unit string, ts timestamp, x double",
    )
    pats = [
        RawPattern(1, "x > 4 for 30 sec"),
        RawPattern(2, "x > 4 for 2 min > 1 min"),
        RawPattern(3, "x = 9 for 2 min > 10 times"),
        RawPattern(4, "avg(x, 30 sec) > 4 for 2 min > 1 min"),
        RawPattern(5, "wait(30 sec, x < 2)"),
        RawPattern(6, "x > 4 until x < 2"),
        # r10b: fused andThen through the sharded time-local adjacency
        # join — simple, stateful-operand, and 3-element chain
        RawPattern(7, "x > 4 andThen x < 2"),
        RawPattern(8, "x > 4 for 20 sec andThen x < 2"),
        RawPattern(9, "x > 4 andThen x < 2 andThen x = 9"),
        # r10c: present-masked lag shapes through the global-series
        # sharded islandization
        RawPattern(10, "lag(x) > 4"),
        RawPattern(11, "lag(x, 20 sec) > 4"),
        RawPattern(12, "avg(lag(x), 30 sec) > 4"),
        RawPattern(13, "lag(x) > 4 for 20 sec"),
    ]
    base = search_incidents(
        df, pats, ["unit"], "ts", fields_types=ft, session_gap_ms=0,
    ).collect()
    want = sorted(map(tuple, base), key=repr)
    # every pattern shape must actually fire, or the parity is vacuous
    assert {r["pattern_id"] for r in base} == set(range(1, 14))
    for shard_ms in (20_000, 300_000, 3_600_000, 10**12):
        got = sorted(
            map(tuple, search_incidents(
                df, pats, ["unit"], "ts", fields_types=ft,
                session_gap_ms=0, shard_ms=shard_ms,
            ).collect()),
            key=repr,
        )
        assert got == want, shard_ms


def test_sharded_stateful_parity_fuzz(spark):
    """Randomized parity for the generalized sharded kernel: random
    pattern ASTs composed from the shardable grammar (predicates,
    and/or/until, windowed aggregates, timers, for-interval stats,
    wait — nested), random regime-switching skewed series, two shard
    sizes vs the ordered compiler path. Seeded, deterministic."""
    import datetime
    import random

    from tsp_spark.api import (
        RawPattern,
        _shardable_extents_ms,
        search_incidents,
    )
    from tsp_spark.dsl.parser import parse_pattern

    rng = random.Random(0x5AAD)

    def gen_pattern(depth: int) -> str:
        atoms = [
            "x > 4", "x < 2", "x = 9", "x + 1 > 5", "x >= 1",
            # r10c: present-masked atoms exercise the global-series
            # sharded islandization path
            "lag(x) > 4", "lag(x, 15 sec) > 4",
        ]
        if depth <= 0:
            return rng.choice(atoms)
        kind = rng.randrange(6)
        a = gen_pattern(depth - 1)
        if kind == 0:
            return f"({a}) and ({gen_pattern(depth - 1)})"
        if kind == 1:
            return f"({a}) or ({gen_pattern(depth - 1)})"
        if kind == 2:
            return f"({a}) until ({gen_pattern(depth - 1)})"
        if kind == 3:
            return f"({a}) for {rng.choice([20, 40, 90])} sec"
        if kind == 4:
            w = rng.choice([60, 120])
            if rng.random() < 0.5:
                return f"({a}) for {w} sec > {rng.choice([3, 8])} times"
            return f"({a}) for {w} sec > {w // 3} sec"
        return f"wait({rng.choice([20, 45])} sec, {a})"

    from tsp_spark.dsl.parser import ParseError

    ft = {"x": "float64"}
    pats, pid = [], 0
    while len(pats) < 8:
        src = gen_pattern(rng.choice([1, 2, 2]))
        try:
            node = parse_pattern(src, ft, 0.0)
        except ParseError:
            # the random composer can hit real grammar restrictions
            # (e.g. wait is not a valid until right-hand side) — skip
            continue
        if _shardable_extents_ms(node, 60_000) is None:
            continue
        pid += 1
        # half the corpus becomes a top-level fused andThen chain over
        # shardable operands (r10b sharded adjacency join; every
        # gen_pattern output is andThen-free and shardable, so the
        # chain always routes through _shardable_andthen_chain)
        if pid % 2 == 0:
            src = f"({src}) andThen ({gen_pattern(1)})"
        pats.append(RawPattern(pid, src))
    # a mixed job: lag over a WINDOWED inner is not shardable and must
    # silently take the ordered path next to the sharded patterns
    pats.append(RawPattern(99, "lag(avg(x, 10 sec)) > 4"))

    rows = []
    for key, n in (("hot", 700), ("k1", 90)):
        t = 0
        regime = 9.0
        for _ in range(n):
            t += rng.choice([3, 5, 8, 61, 150])
            if rng.random() < 0.08:
                regime = rng.choice([1.0, 2.0, 9.0, 9.0, None])
            rows.append((key, t, regime))
    df = spark.createDataFrame(
        [
            (k, datetime.datetime(2024, 1, 1)
             + datetime.timedelta(seconds=t), v)
            for k, t, v in rows
        ],
        "unit string, ts timestamp, x double",
    )
    want = sorted(
        map(tuple, search_incidents(
            df, pats, ["unit"], "ts", fields_types=ft, session_gap_ms=0,
        ).collect()),
        key=repr,
    )
    assert want, "fuzz series produced no incidents at all"
    for shard_ms in (7_000, 30_000, 3_600_000):
        got = sorted(
            map(tuple, search_incidents(
                df, pats, ["unit"], "ts", fields_types=ft,
                session_gap_ms=0, shard_ms=shard_ms,
            ).collect()),
            key=repr,
        )
        assert got == want, (shard_ms, [p.source_code for p in pats])


def test_with_series_sharded_matches_global(spark):
    """with_series_sharded == the compiler's per-key ordered
    with_series on a hostile randomized series (hot key, gaps exactly
    at/above the rule, empty shards between bursts), across shard
    sizes from 1 s to one-shard-total."""
    import datetime
    import random

    from tsp_spark.compile.compiler import PatternCompiler
    from tsp_spark.ops.islands import with_series_sharded

    rng = random.Random(0x5E41E5)
    rows = []
    for key, n in (("hot", 600), ("k1", 80), ("k2", 1)):
        t = 0
        for _ in range(n):
            t += rng.choice([1, 5, 59, 60, 61, 200, 4000])
            rows.append((key, t, float(rng.randint(0, 9))))
    df = spark.createDataFrame(
        [
            (k, datetime.datetime(2024, 1, 1)
             + datetime.timedelta(seconds=t), v)
            for k, t, v in rows
        ],
        "unit string, ts timestamp, x double",
    )
    comp = PatternCompiler(["unit"], "ts", {"x": "float64"}, 60_000)
    want = {
        (r["unit"], r["ts"]): r[comp.SERIES_COL]
        for r in comp.with_series(df).collect()
    }
    for shard_ms in (1_000, 47_000, 3_600_000, 10**12):
        got = {
            (r["unit"], r["ts"]): r["__gseries"]
            for r in with_series_sharded(
                df, ["unit"], "ts", 60_000, shard_ms=shard_ms
            ).collect()
        }
        assert got == want, shard_ms
    # max_gap None -> single series
    assert {
        r["__gseries"]
        for r in with_series_sharded(
            df, ["unit"], "ts", None, shard_ms=1000
        ).collect()
    } == {0}


# --- auto hot-key mitigation (r11) ------------------------------------


def test_auto_shard_decision_unit():
    """auto_shard_ms thresholds: no stats / cold key / zero span decline;
    a hot key picks span/max(hot/target, MIN_SHARDS)."""
    import tsp_spark.api as api

    assert api.auto_shard_ms(None) is None
    cold = {"total_rows": 10**7, "hot_rows": 50_000, "hot_span_ms": 10**9}
    assert api.auto_shard_ms(cold) is None
    flat = {"total_rows": 10**7, "hot_rows": 5 * 10**6, "hot_span_ms": 0}
    assert api.auto_shard_ms(flat) is None
    hot = {
        "total_rows": 10**7,
        "hot_rows": 5 * 10**6,
        "hot_span_ms": 5 * 10**9,
    }
    n_shards = max(
        api.AUTO_MIN_SHARDS, hot["hot_rows"] // api.AUTO_TARGET_ROWS_PER_SHARD
    )
    assert api.auto_shard_ms(hot) == hot["hot_span_ms"] // n_shards
    # per-pattern clamp keeps the explode duplication bounded
    assert api._clamp_shard_ms(1_000, 60_000) == 480_000
    assert api._clamp_shard_ms(10**9, 60_000) == 10**9
    assert api._clamp_shard_ms(1_000, 0) == 1_000


def test_auto_shard_invalid_string_raises(spark, mk_ts):
    import pytest

    from tsp_spark.api import RawPattern, search_incidents

    df = spark.createDataFrame(
        [("a", mk_ts(0), 1.0)], "unit string, ts timestamp, x double"
    )
    with pytest.raises(ValueError, match="auto"):
        search_incidents(
            df, [RawPattern(1, "x > 0")], ["unit"], "ts",
            fields_types={"x": "float64"}, shard_ms="yes",
        ).collect()


def test_probe_hot_key_and_gate(spark):
    """probe_hot_key reports the hottest key's count and ITS OWN span;
    _plan_size_bytes is finite for range/parquet-backed frames and None
    for RDD-backed ones (the gate that keeps unknown-size sources —
    JDBC — on the ordered path with zero probe cost)."""
    import tsp_spark.api as api

    ev = spark.range(1000).select(
        F.when(F.col("id") < 600, F.lit("hot"))
        .otherwise(F.lit("cold"))
        .alias("unit"),
        # hot rows at 0..599 s; cold rows bunched at 10_000..10_399 s
        F.timestamp_millis(
            F.when(F.col("id") < 600, F.col("id"))
            .otherwise(10_000 + (F.col("id") - 600))
            * 1000
        ).alias("ts"),
    )
    st = api.probe_hot_key(ev, ["unit"], "ts")
    assert st == {
        "total_rows": 1000,
        "hot_rows": 600,
        "hot_span_ms": 599_000,
        # no key holds ≥ PREFIX_WINDOW_AGG_MIN_ROWS rows, so the dense
        # rate is the "measured, nobody can cross the gate" 0.0 (r14)
        "max_rate_hz": 0.0,
    }
    assert api._plan_size_bytes(ev) is not None
    rdd_df = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, 2)]), "a int, b int"
    )
    assert api._plan_size_bytes(rdd_df) is None


def test_auto_mode_parity_with_patched_thresholds(spark, monkeypatch):
    """With the probe gate and hot-row floor lowered, the DEFAULT
    (shard_ms='auto') call detects the hot key on a small skewed frame
    and produces byte-identical incidents to the ordered path across a
    mixed job: row-local, timer, windowed-stat, fused chain, and a lag
    pattern (which auto must leave on the ordered path)."""
    import tsp_spark.api as api
    from tsp_spark.api import RawPattern, search_incidents

    monkeypatch.setattr(api, "AUTO_PROBE_MIN_BYTES", 1)
    monkeypatch.setattr(api, "AUTO_HOT_ROWS_MIN", 2_000)

    n, hot = 6_000, 3_000
    ev = spark.range(n).select(
        F.when(F.col("id") < hot, F.lit(0))
        .otherwise(1 + F.pmod(F.col("id"), F.lit(9)))
        .alias("unit"),
        F.timestamp_millis(
            F.lit(1_704_067_200_000)
            + F.when(F.col("id") < hot, F.col("id"))
            .otherwise((F.col("id") - hot) / 9)
            .cast("long")
            * 1000
        ).alias("ts"),
        F.when(
            F.pmod(F.xxhash64("id"), F.lit(10)) < 5,
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(100)) / 200.0,
        )
        .otherwise(0.5 + F.pmod(F.xxhash64("id", F.lit(2)), F.lit(100)) / 200.0)
        .alias("x"),
    )
    # the probe must fire and choose a width on this frame
    st = api.probe_hot_key(ev, ["unit"], "ts")
    assert st["hot_rows"] == hot and api.auto_shard_ms(st) is not None

    pats = [
        RawPattern(1, "x < 0.5"),
        RawPattern(2, "x >= 0.5 for 30 sec"),
        RawPattern(3, "avg(x, 60 sec) > 0.4 for 2 min > 1 min"),
        RawPattern(4, "x >= 0.5 andThen x < 0.5"),
        RawPattern(5, "lag(x) < 0.5"),
    ]
    kw = dict(
        keys=["unit"], ts="ts", fields_types={"x": "float64"},
        max_gap_ms=60_000, session_gap_ms=10_000,
    )
    got = sorted(map(tuple, search_incidents(ev, pats, **kw).collect()))
    want = sorted(
        map(tuple, search_incidents(ev, pats, shard_ms=None, **kw).collect())
    )
    assert got == want and len(got) > 0


def test_auto_mode_small_source_skips_probe(spark, mk_ts):
    """Default-argument call on a tiny local frame: the plan-stats gate
    declines (LocalRelation stats are tiny/unknown), no probe job runs,
    and results match the ordered path — i.e. the r11 default changes
    nothing for every oracle-scale query."""
    from tsp_spark.api import RawPattern, search_incidents

    df = spark.createDataFrame(
        [("a", mk_ts(i), float(i % 3)) for i in range(30)],
        "unit string, ts timestamp, x double",
    )
    pats = [RawPattern(1, "x > 1")]
    kw = dict(
        keys=["unit"], ts="ts", fields_types={"x": "float64"},
        max_gap_ms=60_000,
    )
    auto = sorted(map(tuple, search_incidents(df, pats, **kw).collect()))
    ordered = sorted(
        map(tuple, search_incidents(df, pats, shard_ms=None, **kw).collect())
    )
    assert auto == ordered


def test_auto_probe_memoized_per_source(spark, monkeypatch):
    """r12 (VERDICT r11 Next #5): repeated search_incidents calls on the
    same (source plan, keys, ts) reuse one probe scan — probe_hot_key
    runs once, the second call reports probe_cached=True with the same
    decision, and a DIFFERENT source plan probes afresh. decision_sink
    surfaces the resolved decision for the job service."""
    import tsp_spark.api as api
    from tsp_spark.api import RawPattern, search_incidents

    monkeypatch.setattr(api, "AUTO_PROBE_MIN_BYTES", 1)
    monkeypatch.setattr(api, "AUTO_HOT_ROWS_MIN", 2_000)
    api.clear_auto_probe_cache()

    calls = {"n": 0}
    real_probe = api.probe_hot_key

    def counting_probe(df, keys, ts):
        calls["n"] += 1
        return real_probe(df, keys, ts)

    monkeypatch.setattr(api, "probe_hot_key", counting_probe)

    n, hot = 6_000, 3_000
    ev = spark.range(n).select(
        F.when(F.col("id") < hot, F.lit(0))
        .otherwise(1 + F.pmod(F.col("id"), F.lit(9)))
        .alias("unit"),
        F.timestamp_millis(
            F.lit(1_704_067_200_000)
            + F.when(F.col("id") < hot, F.col("id"))
            .otherwise((F.col("id") - hot) / 9)
            .cast("long")
            * 1000
        ).alias("ts"),
        (F.pmod(F.xxhash64("id"), F.lit(100)) / 100.0).alias("x"),
    )
    pats = [RawPattern(1, "x < 0.5")]
    kw = dict(
        keys=["unit"], ts="ts", fields_types={"x": "float64"},
        max_gap_ms=60_000, session_gap_ms=10_000,
    )
    d1: dict = {}
    n1 = search_incidents(ev, pats, decision_sink=d1, **kw).count()
    assert calls["n"] == 1
    assert d1["probed"] and not d1["probe_cached"]
    assert d1["shard_ms"] is not None
    d2: dict = {}
    n2 = search_incidents(ev, pats, decision_sink=d2, **kw).count()
    assert calls["n"] == 1  # served from the memo — no second probe scan
    assert d2["probe_cached"] and d2["shard_ms"] == d1["shard_ms"]
    assert n1 == n2
    # a different source plan is a different cache key
    ev2 = ev.where(F.col("x") >= 0.0)
    d3: dict = {}
    search_incidents(ev2, pats, decision_sink=d3, **kw).count()
    assert calls["n"] == 2 and d3["probed"] and not d3["probe_cached"]
    # explicit modes record without probing
    d4: dict = {}
    search_incidents(ev, pats, shard_ms=None, decision_sink=d4, **kw).count()
    # r14: decision payloads always carry window_forms (which physical
    # form each window aggregate compiled to; empty — no windows here)
    assert d4 == {"mode": "ordered", "shard_ms": None, "window_forms": []}
    assert calls["n"] == 2
    api.clear_auto_probe_cache()


def test_auto_probe_failure_is_recorded(spark, tmp_path, monkeypatch):
    """A probe step that raises is skipped, not hidden: its exception
    class and message land under ``probe_errors`` in the decision record
    (and so in the service's job status), and the job still runs."""
    import tsp_spark.api as api
    from tsp_spark.api import RawPattern, search_incidents

    monkeypatch.setattr(api, "AUTO_PROBE_MIN_BYTES", 1)
    api.clear_auto_probe_cache()
    src_path = str(tmp_path / "probe_src")
    spark.range(200).select(
        F.lit(0).alias("unit"),
        F.timestamp_millis(F.lit(1_704_067_200_000) + F.col("id") * 100).alias("ts"),
        (F.col("id") % 7 / 7.0).alias("x"),
    ).write.parquet(src_path)
    df = spark.read.parquet(src_path)
    kw = dict(
        keys=["unit"], ts="ts", fields_types={"x": "float64"},
        max_gap_ms=60_000, session_gap_ms=10_000,
    )
    pats = [RawPattern(1, "x < 0.5")]
    clean: dict = {}
    want = search_incidents(df, pats, decision_sink=clean, **kw).count()
    assert clean["probed"] and "probe_errors" not in clean

    def broken_listing(self):
        raise RuntimeError("listing unavailable")

    api.clear_auto_probe_cache()
    monkeypatch.setattr(type(df), "inputFiles", broken_listing)
    d: dict = {}
    assert search_incidents(df, pats, decision_sink=d, **kw).count() == want
    assert d["probed"]
    assert d["probe_errors"] == {"file_signature": "RuntimeError: listing unavailable"}


def test_auto_probe_cache_lru_and_file_signature(spark, tmp_path, monkeypatch):
    """r13 (ADVICE r12): (a) the probe memo keys on a file-index
    signature, so APPENDING files to a parquet source re-probes
    immediately instead of serving a stale decision for the TTL;
    (b) eviction at capacity is LRU — one oldest entry, not a
    wholesale clear."""
    import tsp_spark.api as api
    from tsp_spark.api import RawPattern, search_incidents

    monkeypatch.setattr(api, "AUTO_PROBE_MIN_BYTES", 1)
    monkeypatch.setattr(api, "AUTO_HOT_ROWS_MIN", 2_000)
    api.clear_auto_probe_cache()

    calls = {"n": 0}
    real_probe = api.probe_hot_key

    def counting_probe(df, keys, ts):
        calls["n"] += 1
        return real_probe(df, keys, ts)

    monkeypatch.setattr(api, "probe_hot_key", counting_probe)

    def mk_rows(n, start_id=0):
        return spark.range(start_id, start_id + n).select(
            F.lit(0).alias("unit"),
            F.timestamp_millis(
                F.lit(1_704_067_200_000) + F.col("id") * 100
            ).alias("ts"),
            (F.pmod(F.xxhash64("id"), F.lit(100)) / 100.0).alias("x"),
        )

    src_path = str(tmp_path / "probe_src")
    mk_rows(3_000).write.parquet(src_path)
    pats = [RawPattern(1, "x < 0.5")]
    kw = dict(
        keys=["unit"], ts="ts", fields_types={"x": "float64"},
        max_gap_ms=60_000, session_gap_ms=10_000,
    )
    df = spark.read.parquet(src_path)
    d1: dict = {}
    search_incidents(df, pats, decision_sink=d1, **kw).count()
    assert calls["n"] == 1 and d1["probed"] and not d1["probe_cached"]
    # same files -> memo hit (fresh read, same signature)
    d2: dict = {}
    search_incidents(
        spark.read.parquet(src_path), pats, decision_sink=d2, **kw
    ).count()
    assert calls["n"] == 1 and d2["probe_cached"]
    # append new files -> signature changes -> immediate re-probe
    mk_rows(3_000, start_id=3_000).write.mode("append").parquet(src_path)
    d3: dict = {}
    search_incidents(
        spark.read.parquet(src_path), pats, decision_sink=d3, **kw
    ).count()
    assert calls["n"] == 2 and d3["probed"] and not d3["probe_cached"]

    # LRU eviction: at capacity, inserting evicts ONLY the oldest
    monkeypatch.setattr(api, "AUTO_PROBE_CACHE_MAX", 2)
    api.clear_auto_probe_cache()
    calls["n"] = 0
    base = mk_rows(3_000)
    v1 = base.where(F.col("x") >= 0.0)
    v2 = base.where(F.col("x") >= -1.0)
    v3 = base.where(F.col("x") >= -2.0)
    for v in (v1, v2):
        search_incidents(v, pats, **kw).count()
    assert calls["n"] == 2
    # touch v1 (memo hit -> moved to MRU), insert v3 (evicts v2)
    dh: dict = {}
    search_incidents(v1, pats, decision_sink=dh, **kw).count()
    assert dh["probe_cached"] and calls["n"] == 2
    search_incidents(v3, pats, **kw).count()
    assert calls["n"] == 3
    dv1: dict = {}
    search_incidents(v1, pats, decision_sink=dv1, **kw).count()
    assert dv1["probe_cached"] and calls["n"] == 3  # v1 survived
    dv2: dict = {}
    search_incidents(v2, pats, decision_sink=dv2, **kw).count()
    assert not dv2["probe_cached"] and calls["n"] == 4  # v2 was evicted
    api.clear_auto_probe_cache()


def test_stacking_skipped_when_hot_key_sharded(spark, monkeypatch):
    """r13: when the auto probe resolves a shard width (hot key known),
    leftover unshardable patterns keep PER-PATTERN branches — under
    skew, independent branches run their serialized hot-key tasks in
    parallel, measured faster than one shared exchange (SCALE.md r13).
    With no hot key the same job stacks (one scan). Results identical
    either way."""
    import re

    import tsp_spark.api as api
    from tsp_spark.api import RawPattern, search_incidents

    monkeypatch.setattr(api, "AUTO_PROBE_MIN_BYTES", 1)
    api.clear_auto_probe_cache()
    n, hot = 6_000, 3_000
    ev = spark.range(n).select(
        F.when(F.col("id") < hot, F.lit(0))
        .otherwise(1 + F.pmod(F.col("id"), F.lit(9)))
        .alias("unit"),
        F.timestamp_millis(
            F.lit(1_704_067_200_000)
            + F.when(F.col("id") < hot, F.col("id"))
            .otherwise((F.col("id") - hot) / 9)
            .cast("long")
            * 1000
        ).alias("ts"),
        (F.pmod(F.xxhash64("id"), F.lit(100)) / 100.0).alias("x"),
    )
    # lag patterns never shard in auto mode -> always land in pending;
    # the row-local pattern makes the job probe-ELIGIBLE so the hot-key
    # decision actually fires (a lag-only job never probes for shard)
    pats = [
        RawPattern(1, "lag(x) > 0.5"),
        RawPattern(2, "lag(x) < 0.3"),
        RawPattern(3, "x > 0.9"),
    ]
    kw = dict(
        keys=["unit"], ts="ts", fields_types={"x": "float64"},
        max_gap_ms=60_000, session_gap_ms=10_000,
    )

    def scans(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the source is spark.range -> Range leaf nodes
        return plan.count("Range (0, 6000")

    # hot key detected -> the row-local pattern shards (1 scan) and the
    # two lag patterns keep per-pattern branches (2 more scans)
    monkeypatch.setattr(api, "AUTO_HOT_ROWS_MIN", 2_000)
    d1: dict = {}
    out_hot = search_incidents(ev, pats, decision_sink=d1, **kw)
    assert d1["shard_ms"] is not None
    assert scans(out_hot) == 3
    # no hot key -> stacked (1 scan)
    api.clear_auto_probe_cache()
    monkeypatch.setattr(api, "AUTO_HOT_ROWS_MIN", 10**12)
    d2: dict = {}
    out_uni = search_incidents(ev, pats, decision_sink=d2, **kw)
    assert d2["shard_ms"] is None
    assert scans(out_uni) == 1
    assert sorted(map(tuple, out_hot.collect())) == sorted(
        map(tuple, out_uni.collect())
    )
    api.clear_auto_probe_cache()
