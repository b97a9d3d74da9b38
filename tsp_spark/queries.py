"""The declared query inventory: Spark implementation + DuckDB oracle pairs.

Each entry exercises one operator family from SURVEY.md §2 (CEP pattern
operators, reshaping, sessionization) or a beyond-reference pipeline
operator (dedup / similarity / text analysis / relational building
blocks). The driver runs the Spark side and the oracle SQL side-by-side
at sf=0.01 and compares row count + schema + order-insensitive value
hash — so both sides are written for EXACT value equality:

* timestamps → epoch milliseconds (BIGINT): `unix_millis` ≡ `epoch_ms`,
  timezone-independent (both operate on the stored instant).
* money → integer cents (BIGINT): sums of doubles are order-sensitive
  in the last bits; sums of exact integers are not.
* ratios → single division of two exact integers (bit-identical).
* genuinely floating aggregates (avg/cosine) → round(…, 4-6).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tsp_spark.api import RawPattern, search_incidents
from tsp_spark.compile import compile_pattern
from tsp_spark.ops import islands, sessionize_intervals, unfold_narrow
from tsp_spark.pipeline.dedup import exact_dedup, jaccard_pairs, minhash_lsh_pairs
from tsp_spark.pipeline.similarity import cosine_topk, label_centroids, lsh_bucket_topk
from tsp_spark.pipeline.text import (
    LANG_MARKERS,
    STOPWORDS,
    fingerprint,
    token_stats,
)

# ---------------------------------------------------------------------------
# constants shared between Spark and oracle sides
# ---------------------------------------------------------------------------
GAP_MS = 172_800_000  # 48 h series-split gap for the sparse events table
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
FILL_TIMEOUT_MS = 259_200_000  # 72 h forward-fill timeout
SESSION_GAP_MS = 604_800_000  # 7 d incident merge gap


def _ms(d: dt.datetime) -> int:
    return int(d.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)


def _ts_lit(ms: int) -> F.Column:
    """Timestamp literal from an epoch-ms constant, for DIRECT column
    comparison in filters: `col <op> _ts_lit(C)` survives Catalyst's
    cast-unwrapping into the parquet scan's PushedFilters (row-group
    min/max pruning), whereas `unix_millis(col) <op> C` wraps the
    column in a function and loses pushdown — at 100 TB that is the
    difference between reading ~2% and 100% of a fact table. Keep
    epoch-ms arithmetic in projections only."""
    return F.timestamp_millis(F.lit(ms))


Q1_CUTOFF_MS = _ms(dt.datetime(1998, 9, 2))
Q3_DATE_MS = _ms(dt.datetime(1998, 6, 1))
Q5_LO_MS = _ms(dt.datetime(1996, 1, 1))
Q5_HI_MS = _ms(dt.datetime(1998, 1, 1))
Q6_LO_MS = _ms(dt.datetime(1996, 1, 1))
Q6_HI_MS = _ms(dt.datetime(1997, 1, 1))

EVENTS_FIELDS = {
    "value": "float64",
    "event_type": "string",
    "user_id": "int64",
    "props": "string",
}


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table, normalizing timestamp physical types so the
    plans are identical under any driver session:

    * nanosecond parquet timestamps (events.ts) → read as long via the
      legacy conf, truncated to microseconds (matching DuckDB's read);
    * TIMESTAMP_NTZ columns → LTZ instants under an explicitly-UTC
      session so epoch extraction is timezone-independent.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        simple = field.dataType.simpleString()
        if simple == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
        elif simple == "bigint" and field.name == "ts":
            # nanos-as-long → microsecond timestamp (integer division,
            # exact; `div` keeps it in long arithmetic)
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"{field.name} div 1000"))
            )
    return df


def _interval_select(df: DataFrame) -> DataFrame:
    return df.select(
        "user_id",
        F.unix_millis("from_ts").alias("from_ms"),
        F.unix_millis("to_ts").alias("to_ms"),
    )


# ---------------------------------------------------------------------------
# oracle SQL templates (gaps-and-islands in portable SQL)
# ---------------------------------------------------------------------------
def _islands_oracle(cond_sql: str, gap_ms: int = GAP_MS, extra_out: str = "") -> str:
    return f"""
WITH f AS (
  SELECT user_id, ts, ({cond_sql}) AS cond,
         CASE WHEN ({cond_sql}) IS DISTINCT FROM lag(({cond_sql})) OVER w
               OR lag(ts) OVER w IS NULL
               OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > {gap_ms}
              THEN 1 ELSE 0 END AS b
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
i AS (
  SELECT *, sum(b) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM f
)
SELECT user_id, epoch_ms(min(ts)) AS from_ms, epoch_ms(max(ts)) AS to_ms{extra_out}
FROM i WHERE cond GROUP BY user_id, isl
"""


def _islandize_tail(gap_ms: int = GAP_MS) -> str:
    """Tail CTEs: islandize a boolean column tb of relation t(user_id, ts,
    ms, tb) and emit one row per true-island."""
    return f"""
g AS (
  SELECT *, CASE WHEN tb IS DISTINCT FROM lag(tb) OVER w2
                 OR lag(ts) OVER w2 IS NULL
                 OR ms - lag(ms) OVER w2 > {gap_ms}
            THEN 1 ELSE 0 END AS b2
  FROM t WINDOW w2 AS (PARTITION BY user_id ORDER BY ts)
),
i2 AS (
  SELECT *, sum(b2) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM g
)
SELECT user_id, epoch_ms(min(ts)) AS from_ms, epoch_ms(max(ts)) AS to_ms
FROM i2 WHERE tb GROUP BY user_id, isl
"""


# ---------------------------------------------------------------------------
# CEP queries (reference operator inventory, SURVEY §2.2-§2.10)
# ---------------------------------------------------------------------------
def q_cep_threshold_islands(spark, sf_dir):
    """SimplePattern + RLE segmentization (SimplePattern.scala:27-37)."""
    ev = _load(spark, sf_dir, "events")
    out = islands(ev, ["user_id"], "ts", F.col("value") > 100, max_gap_ms=GAP_MS)
    return out.select(
        "user_id",
        F.unix_millis("from_ts").alias("from_ms"),
        F.unix_millis("to_ts").alias("to_ms"),
        "n_rows",
    )


def q_cep_timer_for(spark, sf_dir):
    """TimerPattern `X for T` (TimerPattern.scala)."""
    ev = _load(spark, sf_dir, "events")
    out = compile_pattern(
        ev, "value > 60 for 12 hr", ["user_id"], "ts", EVENTS_FIELDS, max_gap_ms=GAP_MS
    )
    return _interval_select(out)


def _timer_oracle(cond_sql: str, window_ms: int) -> str:
    return f"""
WITH f AS (
  SELECT user_id, ts, epoch_ms(ts) AS ms, ({cond_sql}) AS cond,
         CASE WHEN ({cond_sql}) IS DISTINCT FROM lag(({cond_sql})) OVER w
               OR lag(ts) OVER w IS NULL
               OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > {GAP_MS}
              THEN 1 ELSE 0 END AS b
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
r AS (
  SELECT *, max(CASE WHEN b = 1 THEN ms END) OVER
            (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_start
  FROM f
),
t AS (
  SELECT user_id, ts, ms,
         CASE WHEN cond IS NULL THEN NULL
              ELSE cond AND (ms - run_start >= {window_ms}) END AS tb
  FROM r
),
{_islandize_tail()}
"""


ORACLE_TIMER = _timer_oracle("value > 60", 43_200_000)


def q_cep_timer_tolerance(spark, sf_dir):
    """Explicit `for T +- p%` tolerance syntax (PatternGenerator's
    `range` production; Timer takes the interval MAX — dsl/parser.py):
    `for 10 hr +- 20%` holds at 12 h."""
    ev = _load(spark, sf_dir, "events")
    out = compile_pattern(
        ev, "value > 60 for 10 hr +- 20%", ["user_id"], "ts", EVENTS_FIELDS,
        max_gap_ms=GAP_MS,
    )
    return _interval_select(out)


# 10 hr + 20% = 43 200 000 ms — same effective hold as cep_timer_for,
# reached through the tolerance arithmetic instead of a literal
ORACLE_TIMER_TOLERANCE = _timer_oracle("value > 60", 43_200_000)


def q_cep_andthen(spark, sf_dir):
    """AndThenPattern sequence join (AndThenPattern.scala:42-94)."""
    ev = _load(spark, sf_dir, "events")
    out = compile_pattern(
        ev,
        "value > 150 andThen event_type = 'error'",
        ["user_id"],
        "ts",
        EVENTS_FIELDS,
        max_gap_ms=GAP_MS,
    )
    return _interval_select(out)


ORACLE_ANDTHEN = f"""
WITH base0 AS (
  SELECT user_id, ts, value, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
         CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER
                (PARTITION BY user_id ORDER BY ts)) > {GAP_MS}
              THEN 1 ELSE 0 END AS gapb
  FROM events
),
-- gap-delimited sub-series id: the reference resets all pattern state
-- at a split (PatternProcessor.scala:33-56), so A andThen B never
-- matches across one
base AS (
  SELECT user_id, ts, value, event_type, rn,
         sum(gapb) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ser
  FROM base0
),
fa AS (
  SELECT *, (value > 150) AS cond,
         CASE WHEN (value > 150) IS DISTINCT FROM lag((value > 150)) OVER w
               OR lag(ts) OVER w IS NULL
               OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > {GAP_MS}
              THEN 1 ELSE 0 END AS b
  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
ia AS (SELECT *, sum(b) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM fa),
ga AS (SELECT user_id, isl, min(ts) AS f, max(ts) AS t, min(rn) AS si, max(rn) AS ei,
              min(ser) AS ser
       FROM ia WHERE cond GROUP BY user_id, isl),
fb AS (
  SELECT *, (event_type = 'error') AS cond,
         CASE WHEN (event_type = 'error') IS DISTINCT FROM lag((event_type = 'error')) OVER w
               OR lag(ts) OVER w IS NULL
               OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > {GAP_MS}
              THEN 1 ELSE 0 END AS b
  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
ib AS (SELECT *, sum(b) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM fb),
gb AS (SELECT user_id, isl, min(ts) AS f, max(ts) AS t, min(rn) AS si, max(rn) AS ei,
              min(ser) AS ser
       FROM ib WHERE cond GROUP BY user_id, isl)
,
joined AS (
  SELECT a.user_id, a.si AS asi, b.si AS bsi,
         epoch_ms(a.f) AS from_ms, epoch_ms(b.t) AS to_ms
  FROM ga a JOIN gb b
    ON a.user_id = b.user_id AND a.ser = b.ser
   AND b.si <= a.ei + 1 AND b.ei >= a.si
),
p1 AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, asi ORDER BY bsi) AS rb
  FROM joined
),
p2 AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, bsi ORDER BY asi) AS ra
  FROM p1 WHERE rb = 1
)
SELECT user_id, from_ms, to_ms FROM p2 WHERE ra = 1
"""


def q_cep_avg_window(spark, sf_dir):
    """GroupPattern windowed avg/count (GroupPattern.scala:20-99)."""
    ev = _load(spark, sf_dir, "events")
    ms = F.unix_millis("ts")
    # half-open (t−6h, t] — the reference GroupPattern convention
    w = Window.partitionBy("user_id").orderBy(ms).rangeBetween(-21_599_999, 0)
    return ev.select(
        "user_id",
        ms.alias("ms"),
        F.round(F.avg("value").over(w), 4).alias("avg6h"),
        F.count("value").over(w).alias("n6h"),
    )


ORACLE_AVG_WINDOW = """
SELECT user_id, epoch_ms(ts) AS ms,
       round(avg(value) OVER w, 4) AS avg6h,
       count(value) OVER w AS n6h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
             RANGE BETWEEN 21599999 PRECEDING AND CURRENT ROW)
"""


def q_cep_lag(spark, sf_dir):
    """PreviousValue, both forms folded into one keyed pass
    (PreviousValue.scala:12-74): row-lag `lag(x)` + the 3× spike flag it
    feeds, and time-based `lag(x, T)` — here the CONTINUOUS
    value-as-of-(t − 72 h) lookup (ops/windows.lag_time form). The
    reference's consume-once emission discipline (each queued value
    emits at most once, empty frame → absent) is exercised by the
    compiler's lag branch instead — golden corpus, kernel parity, and
    the oracle fuzz all pin it there. Both window frames share the same
    (user_id, ts) sort, so the fold costs one exchange total."""
    ev = _load(spark, sf_dir, "events")
    ms = F.unix_millis("ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    wt = (
        Window.partitionBy("user_id")
        .orderBy(ms)
        .rangeBetween(Window.unboundedPreceding, -FILL_TIMEOUT_MS)
    )
    prev = F.lag("value").over(w)
    return ev.select(
        "user_id",
        ms.alias("ms"),
        "value",
        prev.alias("prev_value"),
        F.round(F.last("value", ignorenulls=True).over(wt), 4).alias("lag72h"),
        (F.col("value") > 3 * prev).alias("is_spike"),
    )


ORACLE_LAG = f"""
SELECT user_id, epoch_ms(ts) AS ms, value,
       lag(value) OVER w AS prev_value,
       round(last_value(value IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY epoch_ms(ts)
              RANGE BETWEEN UNBOUNDED PRECEDING AND {FILL_TIMEOUT_MS} PRECEDING), 4)
         AS lag72h,
       value > 3 * lag(value) OVER w AS is_spike
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts)
"""


def q_cep_truth_count(spark, sf_dir):
    """WindowStatistic truth-count (`for T > N times`,
    WindowStatistic.scala:13-156; reference bound quirk > N ⇒ ≥ N+1)."""
    ev = _load(spark, sf_dir, "events")
    out = compile_pattern(
        ev,
        "value > 80 for 48 hr > 2 times",
        ["user_id"],
        "ts",
        EVENTS_FIELDS,
        max_gap_ms=GAP_MS,
    )
    return _interval_select(out)


ORACLE_TRUTH_COUNT = f"""
WITH f AS (
  SELECT user_id, ts, epoch_ms(ts) AS ms, (value > 80) AS cond FROM events
),
s AS (
  SELECT *, sum(CASE WHEN cond THEN 1 ELSE 0 END) OVER
            (PARTITION BY user_id ORDER BY ms
             RANGE BETWEEN 172800000 PRECEDING AND CURRENT ROW) AS cnt
  FROM f
),
t AS (SELECT user_id, ts, ms, (cnt >= 3) AS tb FROM s),
{_islandize_tail()}
"""


def q_cep_wait(spark, sf_dir):
    """WaitPattern `wait(T, X)` (WaitPattern.scala:15-89)."""
    ev = _load(spark, sf_dir, "events")
    out = compile_pattern(
        ev, "wait(48 hr, value > 150)", ["user_id"], "ts", EVENTS_FIELDS, max_gap_ms=GAP_MS
    )
    return _interval_select(out)


ORACLE_WAIT = f"""
WITH t AS (
  SELECT user_id, ts, epoch_ms(ts) AS ms,
         max(value > 150) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
              RANGE BETWEEN CURRENT ROW AND {GAP_MS} FOLLOWING) AS tb
  FROM events
),
{_islandize_tail()}
"""


def q_cep_until(spark, sf_dir):
    """`X until B` desugaring (ASTBuilder until rule)."""
    ev = _load(spark, sf_dir, "events")
    out = compile_pattern(
        ev,
        "value > 50 until event_type = 'error'",
        ["user_id"],
        "ts",
        EVENTS_FIELDS,
        max_gap_ms=GAP_MS,
    )
    return _interval_select(out)


ORACLE_UNTIL = _islands_oracle("(value > 50) AND NOT (event_type = 'error')")


def q_cep_minmax_long(spark, sf_dir):
    """r12: COMPILED long-window min/max — `min(x, T)`/`max(x, T)` at a
    6 h window routes through the two-block O(n) decomposition
    (compile/compiler.py `_block_extreme`, auto-selected at ≥5 min
    windows; the sliding frame re-aggregates O(rows-in-window) per row,
    ~300 s at 24 h/2M rows). min/max are order-insensitive, so unlike
    float sum/avg the block form is BIT-IDENTICAL to the oracle's
    sliding-frame aggregation at any window length — safe to hash-gate.
    Reference: GroupPattern.scala:56-93 eviction model; windowed
    min/max are the documented extensions (docs/index.md:20)."""
    ev = _load(spark, sf_dir, "events")
    out = compile_pattern(
        ev,
        "min(value, 6 hr) < 10 or max(value, 6 hr) > 190",
        ["user_id"],
        "ts",
        EVENTS_FIELDS,
        max_gap_ms=GAP_MS,
    )
    return _interval_select(out)


ORACLE_MINMAX_LONG = f"""
WITH t AS (
  SELECT user_id, ts, epoch_ms(ts) AS ms,
         (min(value) OVER w < 10 OR max(value) OVER w > 190) AS tb
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
               RANGE BETWEEN 21599999 PRECEDING AND CURRENT ROW)
),
{_islandize_tail()}
"""


def q_cep_wait_until_tol(spark, sf_dir):
    """Folded interval-pattern variants (identical output schema, tagged
    by ``variant`` so each operator stays independently oracle-verified):
    `wait(T, X)` (WaitPattern.scala:15-89), `X until B` desugaring
    (ASTBuilder until rule), and `for T +- p%` timer tolerance
    (PatternGenerator `range` production). Fold exists so every declared
    query fits the driver's correctness window — same three compiled
    plans as the standalone forms, one unionByName."""
    parts = [
        ("wait", q_cep_wait),
        ("until", q_cep_until),
        ("tol", q_cep_timer_tolerance),
        # r12: compiled long-window min/max — the two-block O(n) form
        # (see q_cep_minmax_long's docstring); folded here to stay
        # inside the driver's 50-query correctness window
        ("minmax_long", q_cep_minmax_long),
    ]
    out = None
    for tag, fn in parts:
        d = fn(spark, sf_dir).select(F.lit(tag).alias("variant"), "*")
        out = d if out is None else out.unionByName(d)
    return out


ORACLE_WAIT_UNTIL_TOL = f"""
SELECT 'wait' AS variant, * FROM ({ORACLE_WAIT})
UNION ALL
SELECT 'until' AS variant, * FROM ({ORACLE_UNTIL})
UNION ALL
SELECT 'tol' AS variant, * FROM ({ORACLE_TIMER_TOLERANCE})
UNION ALL
SELECT 'minmax_long' AS variant, * FROM ({ORACLE_MINMAX_LONG})
"""


def q_cep_fill_narrow(spark, sf_dir):
    """NarrowDataUnfolding: EAV pivot + timed forward-fill
    (SparseRowsDataAccumulator.scala:15-97)."""
    ev = _load(spark, sf_dir, "events")
    wide = unfold_narrow(
        ev,
        ["user_id"],
        "ts",
        key_col="event_type",
        value_col="value",
        sensors=EVENT_TYPES,
        default_timeout_ms=FILL_TIMEOUT_MS,
    )
    return wide.select("user_id", F.unix_millis("ts").alias("ms"), *EVENT_TYPES)


def _fill_col_sql(s: str) -> str:
    return (
        f"CASE WHEN epoch_ms(ts) - max(CASE WHEN {s} IS NOT NULL THEN epoch_ms(ts) END)"
        f" OVER w < {FILL_TIMEOUT_MS}"  # strict: expiry at exactly timeout (SEMANTICS.md rule 6)
        f" THEN last_value({s} IGNORE NULLS) OVER w END AS {s}"
    )


ORACLE_FILL_NARROW = f"""
WITH wide AS (
  SELECT user_id, ts,
         {", ".join(f"max(CASE WHEN event_type = '{s}' THEN value END) AS {s}" for s in EVENT_TYPES)}
  FROM events GROUP BY user_id, ts
)
SELECT user_id, epoch_ms(ts) AS ms,
       {", ".join(_fill_col_sql(s) for s in EVENT_TYPES)}
FROM wide
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_cep_sessionize(spark, sf_dir):
    """Incident sessionization (PatternsSearchJob.scala:259-305)."""
    ev = _load(spark, sf_dir, "events")
    iv = islands(ev, ["user_id"], "ts", F.col("value") > 100, max_gap_ms=GAP_MS)
    merged = sessionize_intervals(iv, ["user_id"], gap_ms=SESSION_GAP_MS)
    return merged.select(
        "user_id",
        F.unix_millis("from_ts").alias("from_ms"),
        F.unix_millis("to_ts").alias("to_ms"),
        "n_merged",
    )


ORACLE_SESSIONIZE = f"""
WITH f AS (
  SELECT user_id, ts, (value > 100) AS cond,
         CASE WHEN (value > 100) IS DISTINCT FROM lag((value > 100)) OVER w
               OR lag(ts) OVER w IS NULL
               OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > {GAP_MS}
              THEN 1 ELSE 0 END AS b
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
i AS (SELECT *, sum(b) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM f),
iv AS (SELECT user_id, min(ts) AS from_ts, max(ts) AS to_ts
       FROM i WHERE cond GROUP BY user_id, isl),
s AS (
  SELECT *, CASE WHEN max(epoch_ms(to_ts)) OVER
                   (PARTITION BY user_id ORDER BY from_ts, to_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                 OR epoch_ms(from_ts) - max(epoch_ms(to_ts)) OVER
                   (PARTITION BY user_id ORDER BY from_ts, to_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > {SESSION_GAP_MS}
            THEN 1 ELSE 0 END AS nb
  FROM iv
),
s2 AS (SELECT *, sum(nb) OVER (PARTITION BY user_id ORDER BY from_ts, to_ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM s)
SELECT user_id, epoch_ms(min(from_ts)) AS from_ms, epoch_ms(max(to_ts)) AS to_ms,
       count(*) AS n_merged
FROM s2 GROUP BY user_id, sess
"""


# ---------------------------------------------------------------------------
# relational building blocks (windowed/join/agg foundations + bench anchors)
# ---------------------------------------------------------------------------
def _cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100, 0).cast("long")


def q_rel_q1_pricing(spark, sf_dir):
    """Q1 pricing summary. The two big scaled sums (disc_e4 = cents×1e2,
    charge_e6 = cents×1e4 per row) would overflow an int64 accumulator
    around SF≈50, so they're computed in DECIMAL(38,0) — exact to 1e38,
    i.e. any conceivable SF — and emitted as strings, the one dtype
    whose driver hash is identical across Spark and DuckDB at any
    magnitude (DuckDB's exact accumulator is HUGEINT, which pandas
    maps to a hash-hostile object dtype)."""
    li = _load(spark, sf_dir, "lineitem")
    price_c = _cents("l_extendedprice")
    disc_c = _cents("l_discount")
    tax_c = _cents("l_tax")
    disc_dec = price_c.cast("decimal(38,0)") * (100 - disc_c)
    charge_dec = disc_dec * (100 + tax_c)
    return (
        li.where(F.col("l_shipdate") <= _ts_lit(Q1_CUTOFF_MS))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(price_c).alias("sum_base_cents"),
            F.sum(disc_dec).cast("string").alias("sum_disc_e4"),
            F.sum(charge_dec).cast("string").alias("sum_charge_e6"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# The big sums lift to HUGEINT BEFORE the per-row multiplies (a single
# row's charge_e6 term passes int64 at cents ≈ 9e14) and stay exact at
# any SF; ::VARCHAR matches the engine's string emission. Verified past
# int64 by tests/test_registry_contract.py::test_q1_money_sums_exact_beyond_int64.
ORACLE_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity::BIGINT)::BIGINT AS sum_qty,
       sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS sum_base_cents,
       sum(round(l_extendedprice * 100)::BIGINT::HUGEINT
           * (100 - round(l_discount * 100)::BIGINT))::VARCHAR AS sum_disc_e4,
       sum(round(l_extendedprice * 100)::BIGINT::HUGEINT
           * (100 - round(l_discount * 100)::BIGINT)
           * (100 + round(l_tax * 100)::BIGINT))::VARCHAR AS sum_charge_e6,
       count(*) AS count_order
FROM lineitem
WHERE epoch_ms(l_shipdate) <= {Q1_CUTOFF_MS}
GROUP BY l_returnflag, l_linestatus
"""


def q_rel_q6_revenue(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    sd = F.col("l_shipdate")
    return (
        li.where(
            (sd >= _ts_lit(Q6_LO_MS))
            & (sd < _ts_lit(Q6_HI_MS))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_cents("l_extendedprice") * _cents("l_discount")).alias("revenue_e4"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


ORACLE_Q6 = f"""
SELECT sum(round(l_extendedprice * 100)::BIGINT * round(l_discount * 100)::BIGINT)::BIGINT AS revenue_e4,
       count(*) AS n_rows
FROM lineitem
WHERE epoch_ms(l_shipdate) >= {Q6_LO_MS} AND epoch_ms(l_shipdate) < {Q6_HI_MS}
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q_rel_q3_shipping(spark, sf_dir):
    cust = _load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < _ts_lit(Q3_DATE_MS)
    )
    li = _load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > _ts_lit(Q3_DATE_MS)
    )
    # orders/customer are fact-scale: no broadcast hints — AQE picks the
    # join strategy (shuffle join at 100 TB; broadcast only if tiny).
    return (
        li.join(
            orders.join(cust, orders.o_custkey == cust.c_custkey),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", F.unix_millis("o_orderdate").alias("o_date_ms"))
        .agg(
            F.sum(_cents("l_extendedprice") * (100 - _cents("l_discount"))).alias(
                "revenue_e4"
            )
        )
    )


ORACLE_Q3 = f"""
SELECT l_orderkey, epoch_ms(o_orderdate) AS o_date_ms,
       sum(round(l_extendedprice * 100)::BIGINT * (100 - round(l_discount * 100)::BIGINT))::BIGINT AS revenue_e4
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND epoch_ms(o_orderdate) < {Q3_DATE_MS}
  AND epoch_ms(l_shipdate) > {Q3_DATE_MS}
GROUP BY l_orderkey, o_date_ms
"""


def q_rel_q5_nation_revenue(spark, sf_dir):
    region = _load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _load(spark, sf_dir, "nation")
    cust = _load(spark, sf_dir, "customer")
    supp = _load(spark, sf_dir, "supplier")
    orders = _load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts_lit(Q5_LO_MS))
        & (F.col("o_orderdate") < _ts_lit(Q5_HI_MS))
    )
    li = _load(spark, sf_dir, "lineitem")
    # Broadcast only true dimensions (nation/region/supplier); orders and
    # customer are fact-scale at the 100 TB target — forcing them
    # broadcast would OOM executors, so AQE chooses their join strategy.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(_cents("l_extendedprice") * (100 - _cents("l_discount"))).alias(
                "revenue_e4"
            )
        )
    )


ORACLE_Q5 = f"""
SELECT n_name,
       sum(round(l_extendedprice * 100)::BIGINT * (100 - round(l_discount * 100)::BIGINT))::BIGINT AS revenue_e4
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND epoch_ms(o_orderdate) >= {Q5_LO_MS} AND epoch_ms(o_orderdate) < {Q5_HI_MS}
GROUP BY n_name
"""


def q_rel_window_topk(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    rev = (_cents("l_extendedprice") * (100 - _cents("l_discount"))).alias("revenue_e4")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("revenue_e4").desc(), "l_orderkey", "l_linenumber"
    )
    return (
        li.select("l_suppkey", "l_orderkey", "l_linenumber", rev)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
    )


ORACLE_WINDOW_TOPK = """
WITH t AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         round(l_extendedprice * 100)::BIGINT * (100 - round(l_discount * 100)::BIGINT) AS revenue_e4
  FROM lineitem
)
SELECT * FROM (
  SELECT *, row_number() OVER (PARTITION BY l_suppkey
                               ORDER BY revenue_e4 DESC, l_orderkey, l_linenumber) AS rnk
  FROM t
) WHERE rnk <= 3
"""


def q_rel_asof_join(spark, sf_dir):
    """As-of join via union-window (the shuffle-free-at-scale pattern):
    each purchase matched to the latest signup at-or-before it."""
    ev = _load(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "signup")
    )
    ms = F.unix_millis("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ms)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sig_ms = F.max(F.when(F.col("event_type") == "signup", ms)).over(w)
    return (
        ev.select("user_id", "event_type", ms.alias("purchase_ms"), sig_ms.alias("signup_ms"))
        .where((F.col("event_type") == "purchase") & F.col("signup_ms").isNotNull())
        .drop("event_type")
    )


ORACLE_ASOF = """
SELECT a.user_id, epoch_ms(a.ts) AS purchase_ms, epoch_ms(b.ts) AS signup_ms
FROM (SELECT * FROM events WHERE event_type = 'purchase') a
ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') b
  ON a.user_id = b.user_id AND a.ts >= b.ts
"""


# ---------------------------------------------------------------------------
# pipeline operators (dedup / text / similarity)
# ---------------------------------------------------------------------------
def q_dedup_exact(spark, sf_dir):
    return exact_dedup(_load(spark, sf_dir, "documents"), "text", "doc_id")


ORACLE_DEDUP_EXACT = """
SELECT min(doc_id) AS doc_id, count(*) AS n_copies
FROM documents GROUP BY text
"""


def q_dedup_jaccard(spark, sf_dir):
    return jaccard_pairs(
        _load(spark, sf_dir, "documents"), "text", "doc_id", ["source"], threshold=0.6
    )


ORACLE_DEDUP_JACCARD = """
WITH t AS (
  SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS ws
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.ws, b.ws))::DOUBLE
         / len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard
FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.ws, b.ws))::DOUBLE
        / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.6
"""


def q_dedup_clusters(spark, sf_dir):
    """Connected components over the near-dup pair graph: every doc gets
    its cluster's min doc_id (dedup.py neardup_clusters — iterative
    min-label propagation; oracle = DuckDB recursive-CTE closure)."""
    from tsp_spark.pipeline.dedup import jaccard_pairs, neardup_clusters

    docs = _load(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "text", "doc_id", ["source"], threshold=0.6)
    return neardup_clusters(docs, pairs, "doc_id", pairs_distinct=True)


ORACLE_DEDUP_CLUSTERS = """
WITH RECURSIVE t AS (
  SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS ws
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.ws, b.ws))::DOUBLE
          / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.6
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, min(dst) AS cluster_id,
       (min(dst) = src)::BIGINT AS is_representative
FROM reach GROUP BY src
"""


def q_text_tokens_bpe(spark, sf_dir):
    """BPE-ish pre-tokenizer accounting (pipeline/curation.py) — total
    pieces + word/number/other split via one regexp_extract_all pass."""
    from tsp_spark.pipeline.curation import bpe_token_counts

    return bpe_token_counts(_load(spark, sf_dir, "documents"), "text", "doc_id")


def _bpe_oracle() -> str:
    from tsp_spark.pipeline.curation import BPE_ALL, BPE_NUM, BPE_OTHER, BPE_WORD

    n = lambda p: f"len(regexp_extract_all(text, '{p}'))::BIGINT"  # noqa: E731
    return f"""
SELECT doc_id,
       {n(BPE_ALL)} AS n_bpe_tokens,
       {n(BPE_WORD)} AS n_word_tokens,
       {n(BPE_NUM)} AS n_number_tokens,
       {n(BPE_OTHER)} AS n_other_tokens
FROM documents
"""


ORACLE_TOKENS_BPE = _bpe_oracle()


def q_curation_sample_split(spark, sf_dir):
    """Folded curation assignment (pipeline/curation.py split_assign +
    sample_member): every document's disjoint train/val/test split AND
    its deterministic 20%-sample membership, emitted in ONE map-only
    pass (no join — the flag rides the split projection). The two use
    INDEPENDENT salts (the operator defaults): with a shared salt the
    sample would be a strict prefix of the train split — every sampled
    row in train, zero sample coverage of val/test (review-caught)."""
    from tsp_spark.pipeline.curation import sample_member, split_assign

    docs = _load(spark, sf_dir, "documents")
    return split_assign(
        docs,
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
        extra={"in_sample": sample_member("doc_id", 0.2)},
    )


def _hash_bucket_sql(id_expr: str, seed: str) -> str:
    from tsp_spark.pipeline.hashing import md5_long_sql

    salted = f"({id_expr}::VARCHAR || '#{seed}')"
    return f"({md5_long_sql(salted)} % 10000)"


ORACLE_SAMPLE_SPLIT = f"""
SELECT doc_id,
       CASE WHEN {_hash_bucket_sql("doc_id", "s0")} < 8000 THEN 'train'
            WHEN {_hash_bucket_sql("doc_id", "s0")} < 9000 THEN 'val'
            ELSE 'test' END AS split,
       {_hash_bucket_sql("doc_id", "sample-s0")} < 2000 AS in_sample
FROM documents
"""


def q_embed_quantize(spark, sf_dir):
    """Symmetric int8 embedding quantization (pipeline/curation.py):
    per-vector scale, exact integer code checksum, reconstruction L2."""
    from tsp_spark.pipeline.curation import quantize_embeddings

    return quantize_embeddings(_load(spark, sf_dir, "embeddings"))


ORACLE_EMBED_QUANTIZE = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
s AS (
  SELECT vec_id, e,
         greatest(round(list_max(list_transform(e, x -> abs(x))) / 127.0, 6),
                  1e-12) AS scale
  FROM v
),
q AS (
  SELECT vec_id, scale, e,
         list_transform(e, x ->
           CAST(greatest(least(round(x / scale, 0), 127), -127) AS BIGINT)) AS qs
  FROM s
)
SELECT vec_id, scale,
       CAST(list_sum(list_transform(range(len(qs)), i -> qs[i + 1] * (i + 1)))
            AS BIGINT) AS q_checksum,
       round(list_reduce(
         list_transform(range(len(e)),
                        i -> (e[i + 1] - qs[i + 1] * scale)
                             * (e[i + 1] - qs[i + 1] * scale)),
         (a, b) -> a + b), 6) AS l2_err
FROM q
"""


def _kmv_oracle(k: int = 64) -> str:
    from tsp_spark.pipeline.hashing import md5_long_sql

    return f"""
WITH pairs AS (
  SELECT DISTINCT event_type, {md5_long_sql("user_id::VARCHAR")} AS h
  FROM events
  WHERE user_id IS NOT NULL
),
kept AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
  FROM pairs
)
SELECT event_type, count(*) AS n_kept,
       round(CASE WHEN count(*) < {k} THEN count(*)::DOUBLE
                  ELSE ({k} - 1) / (max(h)::DOUBLE / {float(1 << 60)}) END,
             4) AS est_distinct
FROM kept WHERE r <= {k} GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# sketch_fold — the sketch family as ONE driver entry (same normalize-
# and-union pattern as rel_tpch_fold): kmv distinct, HyperLogLog
# distinct, count-min heavy hitters, bottom-k sample quantiles. Each
# variant keeps its own Spark plan and exact DuckDB oracle; the fold
# schema is (variant, k1, v1, v2, d1, d2, d3) — string key, BIGINT
# counters, DOUBLE estimates, '' / 0 / 0.0 in unused slots.
# ---------------------------------------------------------------------------


def _sketch_norm(df, variant, k1, v1=None, v2=None, d1=None, d2=None, d3=None):
    return df.selectExpr(
        f"'{variant}' AS variant",
        f"CAST(`{k1}` AS STRING) AS k1",
        f"CAST({f'`{v1}`' if v1 else '0'} AS BIGINT) AS v1",
        f"CAST({f'`{v2}`' if v2 else '0'} AS BIGINT) AS v2",
        (f"CAST(`{d1}` AS DOUBLE)" if d1 else "CAST(0.0 AS DOUBLE)") + " AS d1",
        (f"CAST(`{d2}` AS DOUBLE)" if d2 else "CAST(0.0 AS DOUBLE)") + " AS d2",
        (f"CAST(`{d3}` AS DOUBLE)" if d3 else "CAST(0.0 AS DOUBLE)") + " AS d3",
    )


def q_sketch_fold(spark, sf_dir):
    """The sketch family (pipeline/sketches.py), folded:

    * kmv — k-minimum-values distinct sketch, user_id per event_type
    * hll — HyperLogLog (p=8) distinct sketch, event_id per event_type
      (event_id is row-unique so the raw-estimator branch is exercised
      at bench SFs while small groups hit linear counting)
    * cms — count-min 4×256 heavy hitters over document tokens (φ=2%)
    * qbk — deterministic bottom-k sample quantiles of events.value

    Every variant is bit-reproducible in DuckDB via the md5_long hash
    bridge (pipeline/hashing.py)."""
    from tsp_spark.pipeline.sketches import (
        cms_heavy_hitters,
        hll_distinct,
        kmv_distinct,
        quantile_bottomk,
    )

    ev = _load(spark, sf_dir, "events")
    docs = _load(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    parts = [
        _sketch_norm(
            kmv_distinct(ev, "user_id", ["event_type"], k=64),
            "kmv", "event_type", v1="n_kept", d1="est_distinct",
        ),
        _sketch_norm(
            hll_distinct(ev, "event_id", ["event_type"]),
            "hll", "event_type", v1="v_zero", v2="sum_reg",
            d1="est_distinct",
        ),
        _sketch_norm(
            cms_heavy_hitters(tokens, "token", inv_phi=50),
            "cms", "item", v1="est_count", v2="n_exact",
        ),
        _sketch_norm(
            quantile_bottomk(ev, "value", "event_id", ["event_type"], k=128),
            "qbk", "event_type", v1="n_sample",
            d1="q_50", d2="q_90", d3="q_99",
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _sketch_fold_oracle() -> str:
    from tsp_spark.pipeline.hashing import md5_long_sql
    from tsp_spark.pipeline.sketches import (
        CMS_A,
        CMS_B,
        CMS_DEPTH,
        CMS_P,
        CMS_WIDTH,
        HLL_ALPHA_NUM,
        HLL_M,
        HLL_P,
        HLL_W,
    )

    h_event = md5_long_sql("event_id::VARCHAR")
    kmv = f"""
SELECT 'kmv' AS variant, event_type AS k1, n_kept AS v1, 0::BIGINT AS v2,
       est_distinct AS d1, 0.0 AS d2, 0.0 AS d3
FROM ({_kmv_oracle()})
"""
    top = HLL_W + 1  # 53
    hll = f"""
SELECT 'hll' AS variant, event_type AS k1, v_zero AS v1, sum_reg AS v2,
       round(CASE WHEN ({HLL_ALPHA_NUM!r} / s) <= {2.5 * HLL_M}
                   AND v_zero > 0
             THEN {float(HLL_M)} * ln({float(HLL_M)} / v_zero)
             ELSE {HLL_ALPHA_NUM!r} / s END, 4) AS d1,
       0.0 AS d2, 0.0 AS d3
FROM (
  SELECT event_type,
         ({HLL_M} - count(*))::BIGINT AS v_zero,
         sum(reg)::BIGINT AS sum_reg,
         (({HLL_M} - count(*)) * (1::BIGINT << {top})
          + sum(1::BIGINT << ({top} - reg)))::DOUBLE AS s
  FROM (
    SELECT event_type, b,
           max(CASE WHEN rest = 0 THEN {top}
                    ELSE {top} - length(bin(rest)) END) AS reg
    FROM (
      SELECT event_type, h % {HLL_M} AS b, h >> {HLL_P} AS rest
      FROM (SELECT event_type, {h_event} AS h
            FROM events WHERE event_id IS NOT NULL)
    ) GROUP BY event_type, b
  ) GROUP BY event_type
)
"""
    buckets = ", ".join(
        f"(({CMS_A[i]}::BIGINT * hr + {CMS_B[i]}) % {CMS_P}) % {CMS_WIDTH}"
        for i in range(CMS_DEPTH)
    )
    cms = f"""
SELECT 'cms' AS variant, item AS k1, est_count AS v1, n_exact AS v2,
       0.0 AS d1, 0.0 AS d2, 0.0 AS d3
FROM (
  WITH occ AS (
    SELECT unnest(string_split(text, ' ')) AS item
    FROM documents WHERE text IS NOT NULL
  ),
  hr AS (SELECT item, {md5_long_sql("item")} % {CMS_P} AS hr FROM occ),
  cell AS (
    SELECT unnest([0,1,2,3]) AS i, unnest([{buckets}]) AS bucket FROM hr
  ),
  counters AS (SELECT i, bucket, count(*) AS cnt FROM cell GROUP BY i, bucket),
  ex AS (SELECT item, count(*)::BIGINT AS n_exact FROM hr GROUP BY item),
  tot AS (SELECT sum(n_exact) AS total FROM ex),
  cand AS (
    SELECT item, n_exact, unnest([0,1,2,3]) AS i, unnest([{buckets}]) AS bucket
    FROM (SELECT item, n_exact, {md5_long_sql("item")} % {CMS_P} AS hr FROM ex)
  ),
  est AS (
    SELECT item, n_exact, min(cnt)::BIGINT AS est_count
    FROM cand JOIN counters USING (i, bucket) GROUP BY item, n_exact
  )
  SELECT item, est_count, n_exact FROM est, tot WHERE est_count * 50 >= total
)
"""
    qbk = f"""
SELECT 'qbk' AS variant, event_type AS k1, n_sample AS v1, 0::BIGINT AS v2,
       q_50 AS d1, q_90 AS d2, q_99 AS d3
FROM (
  WITH base AS (
    SELECT event_type, value AS v, {h_event} AS h
    FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL
  ),
  samp AS (
    SELECT event_type, v FROM (
      SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY h, v) AS r
      FROM base
    ) WHERE r <= 128
  ),
  rk AS (
    SELECT event_type, v,
           row_number() OVER (PARTITION BY event_type ORDER BY v) AS vr,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM samp
  )
  SELECT event_type, max(n)::BIGINT AS n_sample,
         max(CASE WHEN vr = (1 * n + 1) // 2 THEN v END) AS q_50,
         max(CASE WHEN vr = (9 * n + 9) // 10 THEN v END) AS q_90,
         max(CASE WHEN vr = (99 * n + 99) // 100 THEN v END) AS q_99
  FROM rk GROUP BY event_type
)
"""
    return "\nUNION ALL\n".join([kmv, hll, cms, qbk])


ORACLE_SKETCH_FOLD = _sketch_fold_oracle()


def q_text_top_tokens(spark, sf_dir):
    """Token-ranking fold: per-source heavy hitters (top_tokens) and
    per-document TF-IDF keywords (tfidf_top_terms, r9). Variants share
    (variant, grp, token, v1, d1, rank):

    * top   — grp = source, v1 = n_occ, d1 = 0.0
    * tfidf — grp = doc_id as string, v1 = tf, d1 = score
      (tf × round(ln(N/df), 6); ln clamped per term, the multiply is
      one IEEE op — the ngram_lm_scores exactness recipe)
    """
    from tsp_spark.pipeline.text import tfidf_top_terms, top_tokens

    docs = _load(spark, sf_dir, "documents")
    top = top_tokens(docs, "text", "source", n=10).select(
        F.lit("top").alias("variant"),
        F.col("source").alias("grp"),
        F.col("token"),
        F.col("n_occ").cast("long").alias("v1"),
        F.lit(0.0).alias("d1"),
        F.col("rank").cast("int").alias("rank"),
    )
    tfidf = tfidf_top_terms(docs, "text", "doc_id", k=5).select(
        F.lit("tfidf").alias("variant"),
        F.col("doc_id").cast("string").alias("grp"),
        F.col("token"),
        F.col("tf").cast("long").alias("v1"),
        F.col("score").alias("d1"),
        F.col("rank").cast("int").alias("rank"),
    )
    # tfh (r10): hash_keys=True must be output-identical — its oracle
    # rows are the tfidf rows re-labeled
    tfh = tfidf_top_terms(docs, "text", "doc_id", k=5, hash_keys=True).select(
        F.lit("tfh").alias("variant"),
        F.col("doc_id").cast("string").alias("grp"),
        F.col("token"),
        F.col("tf").cast("long").alias("v1"),
        F.col("score").alias("d1"),
        F.col("rank").cast("int").alias("rank"),
    )
    return top.unionByName(tfidf).unionByName(tfh)


ORACLE_TOP_TOKENS = """
WITH t AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
c AS (SELECT source, token, count(*) AS n_occ FROM t GROUP BY source, token),
r AS (SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY n_occ DESC, token) AS rank FROM c)
SELECT 'top' AS variant, source AS grp, token, n_occ::BIGINT AS v1,
       0.0 AS d1, rank::INT AS rank
FROM r WHERE rank <= 10
UNION ALL
SELECT 'tfidf' AS variant, grp, token, v1, d1, rank FROM (
  WITH tf AS (
    SELECT doc_id, token, count(*)::BIGINT AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents)
    GROUP BY doc_id, token
  ),
  dfreq AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY token),
  -- MATERIALIZED for the same reason as the lm oracle's vv CTE
  nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM documents),
  s AS (
    SELECT tf.doc_id, tf.token, tf.tf,
           tf.tf::DOUBLE * round(ln(nn.n::DOUBLE / dfreq.df::DOUBLE), 6)
             AS score
    FROM tf JOIN dfreq USING (token) CROSS JOIN nn
  ),
  rr AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, token) AS rank
         FROM s)
  SELECT doc_id::VARCHAR AS grp, token, tf AS v1, score AS d1,
         rank::INT AS rank
  FROM rr WHERE rank <= 5
)
"""

# tfh oracle = the tfidf block re-labeled (hashed join keys must not
# change a single output value)
_TFIDF_BLOCK = ORACLE_TOP_TOKENS[
    ORACLE_TOP_TOKENS.index("SELECT 'tfidf' AS variant") :
]
ORACLE_TOP_TOKENS += "UNION ALL\n" + _TFIDF_BLOCK.replace(
    "SELECT 'tfidf' AS variant", "SELECT 'tfh' AS variant", 1
)


def q_pipeline_curation_e2e(spark, sf_dir):
    """End-to-end training-data curation flow composing the pipeline
    operators: quality filter (≥30 tokens) → near-dup clustering over
    the filtered set → keep cluster representatives → deterministic
    train/val/test split → per-split doc count + token budget."""
    from tsp_spark.pipeline.curation import split_assign
    from tsp_spark.pipeline.dedup import jaccard_pairs, neardup_clusters

    docs = _load(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " "))
    kept = docs.withColumn("__nt", toks).where(F.col("__nt") >= 30)
    pairs = jaccard_pairs(kept, "text", "doc_id", ["source"], threshold=0.6)
    reps = (
        neardup_clusters(kept, pairs, "doc_id")
        .where(F.col("is_representative") == 1)
        .select("doc_id")
    )
    rep_docs = kept.join(reps, "doc_id")
    split = split_assign(rep_docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return (
        rep_docs.select("doc_id", "__nt")
        .join(split, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("__nt").cast("long")).alias("total_tokens"),
        )
    )


def _curation_e2e_oracle() -> str:
    bucket = _hash_bucket_sql("doc_id", "s0")
    return f"""
WITH RECURSIVE kept AS (
  SELECT doc_id, source, text, len(string_split(text, ' ')) AS nt
  FROM documents WHERE len(string_split(text, ' ')) >= 30
),
tt AS (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS ws FROM kept),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM tt a JOIN tt b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.ws, b.ws))::DOUBLE
          / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.6
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM kept
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
reps AS (
  SELECT k.doc_id, k.nt FROM kept k
  JOIN clusters c ON k.doc_id = c.doc_id AND c.cluster_id = k.doc_id
),
sp AS (
  SELECT doc_id, nt,
         CASE WHEN {bucket} < 8000 THEN 'train'
              WHEN {bucket} < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM reps
)
SELECT split, count(*) AS n_docs, sum(nt)::BIGINT AS total_tokens
FROM sp GROUP BY split
"""


ORACLE_CURATION_E2E = _curation_e2e_oracle()


def q_text_token_stats(spark, sf_dir):
    return token_stats(_load(spark, sf_dir, "documents"), "text", "doc_id")


ORACLE_TOKEN_STATS = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       len(toks)::BIGINT AS n_tokens,
       len(list_distinct(toks))::BIGINT AS n_unique,
       list_sum(list_transform(toks, x -> len(x)))::BIGINT AS n_token_chars,
       list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks) AS mean_token_len
FROM t
"""


_SW = ", ".join(f"'{s}'" for s in STOPWORDS)
ORACLE_QUALITY = f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       length(text)::BIGINT AS n_chars_actual,
       len(toks)::BIGINT AS n_tokens,
       len(list_filter(toks, x -> x IN ({_SW})))::DOUBLE / len(toks) AS stopword_ratio,
       len(list_distinct(toks))::DOUBLE / len(toks) AS unique_ratio,
       (len(list_distinct(toks))::DOUBLE / len(toks)) < 0.3 AS is_repetitive
FROM t
"""


def _langid_oracle() -> str:
    score_cols = []
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        score_cols.append(
            f"len(list_intersect(list_distinct(string_split(text, ' ')), [{lst}]))::BIGINT AS score_{lang}"
        )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    cases = " ".join(
        f"WHEN score_{lang} > 0 AND score_{lang} >= {best} THEN '{lang}'" for lang in langs
    )
    return f"""
WITH s AS (SELECT doc_id, {", ".join(score_cols)} FROM documents)
SELECT doc_id, {", ".join(f"score_{lang}" for lang in langs)},
       CASE {cases} ELSE 'unknown' END AS pred_lang
FROM s
"""


ORACLE_LANGID = _langid_oracle()


def q_text_fingerprint(spark, sf_dir):
    """Document-identity fold: the rolling-hash fingerprint plus
    exact-substring duplication stats (duplicated_span_stats — the
    Lee-et-al "dedup training data" k-gram span detector, r9).
    Variants share (variant, doc_id, v1, v2, d1):

    * fp    — v1 = rolling-hash fingerprint
    * spans — v1 = dup_tokens (size of the merged duplicated-span
      union), v2 = n_spans, d1 = dup_frac (exact IEEE division of two
      small exact longs, so no rounding bridge is needed)
    * lm    — v1 = n_bigrams, d1 = the CCNet-style bigram-LM mean
      log-prob (ngram_lm_scores, r9): per-term ln clamped to 6
      decimals, ordered fold, unrounded final division — see the
      operator docstring for why the mean must NOT be rounded
    * trim  — v1 = md5_long of the REBUILT text with duplicated spans
      cut (trim_duplicated_spans — value-checks the whole
      reconstructed string without shipping it), v2 = n_kept
    * lmh   — the SAME LM signal computed through hash_keys=True
      (xxhash64 join keys, r10): the oracle rows are the lm rows
      re-labeled, so the driver value-checks that the hashed join
      path is output-identical to the string path
    * c4s   — COMPLETE C4 (r11): the line/page rules plus the
      corpus-wide three-sentence-span dedup (Raffel §2.2's other
      half), run over a structured + boilerplate-injected projection
      (the synthetic corpus has no cross-doc sentence overlap, so the
      raw signal would be vacuous — the __dmg/__rep pattern). v1 =
      md5_long of the final page (line-filtered, duplicated
      three-sentence spans cut, one canonical copy kept corpus-wide),
      v2 = sentences kept, d1 = duplicated-sentence fraction.
    """
    from tsp_spark.pipeline.dedup import (
        duplicated_span_profile,
        trim_duplicated_spans,
    )
    from tsp_spark.pipeline.hashing import md5_long
    from tsp_spark.pipeline.text import (
        c4_full_clean,
        inject_boilerplate_col,
        ngram_lm_scores,
        structure_text_col,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    # (r14, guide §5.3: the variant selects build as selectExpr strings
    # — same parsed expressions, a fraction of the py4j round trips)
    fp = fingerprint(docs, "text", "doc_id").selectExpr(
        "'fp' AS variant",
        "doc_id",
        "CAST(fingerprint AS BIGINT) AS v1",
        "CAST(0 AS BIGINT) AS v2",
        "CAST(0.0 AS DOUBLE) AS d1",
    )
    # ONE span-detection core for both variants (duplicated_span_profile),
    # and ONE pass over its output: the spans/trim rows explode from an
    # array per document instead of a self-union — a union would let
    # column pruning specialize each branch's subtree, and Catalyst then
    # cannot reuse the gram groupBy / semi-join / window exchanges
    # (measured: the unioned form executes the core twice)
    profile = duplicated_span_profile(docs, "text", "doc_id", k=8)
    span_trim = profile.selectExpr(
        """explode(array(
             struct('spans' AS variant, doc_id,
                    CAST(dup_tokens AS BIGINT) AS v1,
                    CAST(n_spans AS BIGINT) AS v2,
                    dup_frac AS d1),
             struct('trim' AS variant, doc_id,
                    CAST(conv(substring(md5(text_clean), 1, 15), 16, 10)
                         AS BIGINT) AS v1,
                    CAST(n_kept AS BIGINT) AS v2,
                    CAST(0.0 AS DOUBLE) AS d1))) AS r"""
    ).select("r.*")
    # one LAZY vocab-size frame for both LM variants (r14): V depends
    # only on the corpus, and as a shared broadcast one-row crossJoin
    # the vocabulary aggregation runs inside the query's own job
    # (identical subtree in both variants → one broadcast, reused)
    # instead of as a blocking plan-build collect job
    from tsp_spark.pipeline.text import _lm_vocab_df

    lm_v = _lm_vocab_df(docs, "text")
    lm = ngram_lm_scores(docs, "text", "doc_id", vocab_size=lm_v).selectExpr(
        "'lm' AS variant", "doc_id", "n_bigrams AS v1",
        "CAST(0 AS BIGINT) AS v2", "lm_score AS d1",
    )
    lmh = ngram_lm_scores(
        docs, "text", "doc_id", hash_keys=True, vocab_size=lm_v
    ).selectExpr(
        "'lmh' AS variant", "doc_id", "n_bigrams AS v1",
        "CAST(0 AS BIGINT) AS v2", "lm_score AS d1",
    )
    # trimk: keep-one-canonical-occurrence trimming (r10) — a separate
    # core execution by design: its hit set differs from the profile's
    trimk = trim_duplicated_spans(
        docs, "text", "doc_id", k=8, keep_first=True
    ).selectExpr(
        "'trimk' AS variant",
        "doc_id",
        "CAST(conv(substring(md5(text_clean), 1, 15), 16, 10) AS BIGINT)"
        " AS v1",
        "CAST(n_kept AS BIGINT) AS v2",
        "CAST(0.0 AS DOUBLE) AS d1",
    )
    # c4s: full C4 over the structured + boilerplate-injected page
    staged = docs.withColumn(
        "__st", structure_text_col("text", "doc_id")
    ).withColumn("__stb", inject_boilerplate_col("__st", "doc_id"))
    c4s = c4_full_clean(staged, "__stb", "doc_id").selectExpr(
        "'c4s' AS variant",
        "doc_id",
        "CAST(conv(substring(md5(text_clean), 1, 15), 16, 10) AS BIGINT)"
        " AS v1",
        "CAST(n_kept AS BIGINT) AS v2",
        "dup_frac AS d1",
    )
    return (
        fp.unionByName(span_trim)
        .unionByName(lm)
        .unionByName(lmh)
        .unionByName(trimk)
        .unionByName(c4s)
    )


ORACLE_FINGERPRINT = """
SELECT 'fp' AS variant, doc_id,
       list_reduce(list_transform(string_split(text, ' '), x -> len(x)::BIGINT),
                   (a, b) -> (a * 31 + b) % 1000000007) AS v1,
       0::BIGINT AS v2, 0.0 AS d1
FROM documents
UNION ALL
SELECT 'spans' AS variant, doc_id,
       dup_tokens AS v1, n_spans AS v2, dup_frac AS d1
FROM (
  WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
  g AS (
    SELECT doc_id, unnest(generate_series(0, len(t) - 8)) AS pos, t
    FROM toks WHERE len(t) >= 8
  ),
  gh AS (
    SELECT doc_id, pos,
           ('0x' || substring(md5(array_to_string(t[pos+1:pos+8], ' ')), 1, 15))::BIGINT AS h
    FROM g
  ),
  dup AS (SELECT h FROM gh GROUP BY h HAVING count(*) >= 2),
  hits AS (
    SELECT doc_id, pos, pos + 8 AS e FROM gh WHERE h IN (SELECT h FROM dup)
  ),
  isl AS (
    SELECT doc_id, pos, e,
           CASE WHEN pos > coalesce(max(e) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
           THEN 1 ELSE 0 END AS st
    FROM hits
  ),
  grp AS (SELECT doc_id, pos, e, sum(st) OVER (
            PARTITION BY doc_id ORDER BY pos) AS grd FROM isl),
  merged AS (SELECT doc_id, grd, min(pos) AS s, max(e) AS e
             FROM grp GROUP BY doc_id, grd),
  per_doc AS (SELECT doc_id, count(*)::BIGINT AS n_spans,
                     sum(e - s)::BIGINT AS dup_tokens
              FROM merged GROUP BY doc_id)
  SELECT t.doc_id,
         coalesce(p.n_spans, 0)::BIGINT AS n_spans,
         coalesce(p.dup_tokens, 0)::BIGINT AS dup_tokens,
         coalesce(p.dup_tokens, 0)::DOUBLE / len(t.t)::DOUBLE AS dup_frac
  FROM toks t LEFT JOIN per_doc p USING (doc_id)
)
UNION ALL
SELECT 'lm' AS variant, doc_id, n_bigrams AS v1, 0::BIGINT AS v2,
       lm_score AS d1
FROM (
  WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
  occ AS (
    SELECT doc_id, unnest(generate_series(0, len(t) - 2)) AS pos, t
    FROM toks WHERE len(t) >= 2
  ),
  o2 AS (SELECT doc_id, pos, t[pos+1] AS w1, t[pos+2] AS w2 FROM occ),
  big AS (SELECT w1, w2, count(*)::BIGINT AS cb FROM o2 GROUP BY w1, w2),
  ctx AS (SELECT w1, sum(cb)::BIGINT AS cw FROM big GROUP BY w1),
  -- MATERIALIZED is load-bearing: with toks multiply-consumed, DuckDB
  -- re-evaluates this uncorrelated scalar PER JOINED ROW (measured: the
  -- sf1 oracle wrote >79 GB of temp and never finished; 3 s materialized)
  vv AS MATERIALIZED (SELECT count(DISTINCT x)::BIGINT AS v
         FROM (SELECT unnest(t) AS x FROM toks)),
  lp AS (
    SELECT o.doc_id, o.pos,
           round(ln((b.cb + 1)::DOUBLE / (c.cw + vv.v)::DOUBLE), 6) AS lp
    FROM o2 o JOIN big b USING (w1, w2) JOIN ctx c USING (w1) CROSS JOIN vv
  ),
  agg AS (
    SELECT doc_id, count(*)::BIGINT AS m,
           list_reduce(list_prepend(0.0, list(lp ORDER BY pos)),
                       (a, b) -> a + b) AS s
    FROM lp GROUP BY doc_id
  )
  SELECT t.doc_id, coalesce(a.m, 0)::BIGINT AS n_bigrams,
         coalesce(a.s / a.m, 0.0) AS lm_score
  FROM toks t LEFT JOIN agg a USING (doc_id)
)
UNION ALL
SELECT 'trim' AS variant, doc_id,
       ('0x' || substring(md5(text_clean), 1, 15))::BIGINT AS v1,
       n_kept AS v2, 0.0 AS d1
FROM (
  WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
  g AS (SELECT doc_id, unnest(generate_series(0, len(t) - 8)) AS pos, t
        FROM toks WHERE len(t) >= 8),
  gh AS (SELECT doc_id, pos,
         ('0x' || substring(md5(array_to_string(t[pos+1:pos+8], ' ')), 1, 15))::BIGINT AS h
         FROM g),
  dup AS (SELECT h FROM gh GROUP BY h HAVING count(*) >= 2),
  hits AS (SELECT doc_id, pos, pos + 8 AS e FROM gh
           WHERE h IN (SELECT h FROM dup)),
  isl AS (SELECT doc_id, pos, e,
          CASE WHEN pos > coalesce(max(e) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS st
          FROM hits),
  grp AS (SELECT doc_id, pos, e, sum(st) OVER (
            PARTITION BY doc_id ORDER BY pos) AS g2 FROM isl),
  merged AS (SELECT doc_id, g2, min(pos) AS s, max(e) AS e
             FROM grp GROUP BY doc_id, g2),
  covered AS (SELECT doc_id, unnest(generate_series(s, e - 1)) AS p
              FROM merged),
  posed AS (SELECT doc_id, unnest(generate_series(0, len(t) - 1)) AS p, t
            FROM toks),
  keptpos AS (
    SELECT po.doc_id, po.p, po.t[po.p + 1] AS tok
    FROM posed po LEFT JOIN covered c
      ON po.doc_id = c.doc_id AND po.p = c.p
    WHERE c.p IS NULL
  ),
  rebuilt AS (
    SELECT doc_id,
           coalesce(string_agg(tok, ' ' ORDER BY p), '') AS text_clean,
           count(*)::BIGINT AS n_kept
    FROM keptpos GROUP BY doc_id
  )
  SELECT t.doc_id, coalesce(r.text_clean, '') AS text_clean,
         coalesce(r.n_kept, 0)::BIGINT AS n_kept
  FROM toks t LEFT JOIN rebuilt r USING (doc_id)
)
"""

# lmh (r10): the hash_keys=True LM path must be OUTPUT-identical to the
# string-keyed path, so its oracle rows are the lm block re-labeled —
# reuse the exact SQL rather than hand-copying 40 lines that must never
# drift from it
_LM_BLOCK = ORACLE_FINGERPRINT[
    ORACLE_FINGERPRINT.index("SELECT 'lm' AS variant") :
    ORACLE_FINGERPRINT.index("UNION ALL\nSELECT 'trim'")
]
# trimk (r10): keep_first trimming — identical SQL except the hit set
# excludes each duplicated gram's canonical (first (doc_id, pos))
# occurrence, mirrored by a row_number > 1 filter
_TRIM_BLOCK = ORACLE_FINGERPRINT[
    ORACLE_FINGERPRINT.index("SELECT 'trim' AS variant") :
].rstrip()
_TRIM_HITS = """hits AS (SELECT doc_id, pos, pos + 8 AS e FROM gh
           WHERE h IN (SELECT h FROM dup)),"""
_TRIMK_HITS = """hits AS (SELECT doc_id, pos, e FROM (
             SELECT doc_id, pos, pos + 8 AS e,
                    row_number() OVER (PARTITION BY h
                                       ORDER BY doc_id, pos) AS rn
             FROM gh WHERE h IN (SELECT h FROM dup))
           WHERE rn > 1),"""
assert _TRIM_HITS in _TRIM_BLOCK  # drift guard for the string surgery


def _c4s_oracle() -> str:
    """DuckDB mirror of the c4s variant: structure + boilerplate
    injection -> C4 line filter -> sentence split (RS-sentinel, no
    lookbehind) -> keep-first three-sentence-span dedup -> rebuild
    with the empty joiner (sentences keep their trailing whitespace).
    Same CTE skeleton as the trimk block, with sentences as the gram
    unit and gram identity over '[ \\n]+$'-stripped sentences."""
    from tsp_spark.pipeline.dedup import sentence_array_sql
    from tsp_spark.pipeline.text import (
        inject_boilerplate_sql,
        structure_text_sql,
    )

    stb = inject_boilerplate_sql(
        "(" + structure_text_sql("text", "doc_id") + ")", "doc_id"
    )
    keep_line = (
        "regexp_matches(l, '[.!?\"]$')"
        " AND len(string_split(l, ' ')) >= 5"
        " AND NOT contains(lower(l), 'javascript')"
    )
    gram = (
        "array_to_string(list_transform(s[pos+1:pos+3],"
        " x -> regexp_replace(x, '[ \\n]+$', '')), chr(31))"
    )
    return f"""
SELECT 'c4s' AS variant, doc_id,
       ('0x' || substring(md5(text_clean), 1, 15))::BIGINT AS v1,
       n_kept AS v2, dup_frac AS d1
FROM (
  WITH stb AS (SELECT doc_id, {stb} AS st FROM documents),
  pg AS (SELECT doc_id,
           coalesce(array_to_string(
             list_filter(string_split(st, chr(10)), l -> {keep_line}),
             chr(10)), '') AS page
         FROM stb),
  sen AS (SELECT doc_id, {sentence_array_sql("page")} AS s FROM pg),
  g AS (SELECT doc_id, unnest(generate_series(0, len(s) - 3)) AS pos, s
        FROM sen WHERE len(s) >= 3),
  gh AS (SELECT doc_id, pos,
           ('0x' || substring(md5({gram}), 1, 15))::BIGINT AS h
         FROM g),
  dup AS (SELECT h FROM gh GROUP BY h HAVING count(*) >= 2),
  hits AS (SELECT doc_id, pos, e FROM (
             SELECT doc_id, pos, pos + 3 AS e,
                    row_number() OVER (PARTITION BY h
                                       ORDER BY doc_id, pos) AS rn
             FROM gh WHERE h IN (SELECT h FROM dup))
           WHERE rn > 1),
  isl AS (SELECT doc_id, pos, e,
          CASE WHEN pos > coalesce(max(e) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS st2
          FROM hits),
  grp AS (SELECT doc_id, pos, e, sum(st2) OVER (
            PARTITION BY doc_id ORDER BY pos) AS gd FROM isl),
  merged AS (SELECT doc_id, gd, min(pos) AS sp, max(e) AS ep
             FROM grp GROUP BY doc_id, gd),
  per AS (SELECT doc_id, count(*)::BIGINT AS n_spans,
                 sum(ep - sp)::BIGINT AS dups
          FROM merged GROUP BY doc_id),
  covered AS (SELECT doc_id, unnest(generate_series(sp, ep - 1)) AS p
              FROM merged),
  posed AS (SELECT doc_id, unnest(generate_series(0, len(s) - 1)) AS p, s
            FROM sen),
  keptpos AS (
    SELECT po.doc_id, po.p, po.s[po.p + 1] AS tok
    FROM posed po LEFT JOIN covered c
      ON po.doc_id = c.doc_id AND po.p = c.p
    WHERE c.p IS NULL
  ),
  rebuilt AS (
    SELECT doc_id,
           coalesce(string_agg(tok, '' ORDER BY p), '') AS text_clean,
           count(*)::BIGINT AS n_kept
    FROM keptpos GROUP BY doc_id
  )
  SELECT sen.doc_id,
         coalesce(r.text_clean, '') AS text_clean,
         coalesce(r.n_kept, 0)::BIGINT AS n_kept,
         coalesce(per.dups, 0)::DOUBLE / len(sen.s)::DOUBLE AS dup_frac
  FROM sen LEFT JOIN rebuilt r USING (doc_id)
           LEFT JOIN per USING (doc_id)
)
"""


ORACLE_FINGERPRINT += (
    "\nUNION ALL\n"
    + _LM_BLOCK.replace("SELECT 'lm' AS variant", "SELECT 'lmh' AS variant", 1)
    + "UNION ALL\n"
    + _TRIM_BLOCK.replace(
        "SELECT 'trim' AS variant", "SELECT 'trimk' AS variant", 1
    ).replace(_TRIM_HITS, _TRIMK_HITS, 1)
    + "\nUNION ALL\n"
    + _c4s_oracle()
)


def q_ann_cosine_topk(spark, sf_dir):
    emb = _load(spark, sf_dir, "embeddings")
    out = cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=5)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


ORACLE_ANN = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 10),
s AS (
  SELECT q.qid AS query_id, v.vec_id AS neighbor_id,
         list_dot_product(v.e, q.qe)
           / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe))) AS cos
  FROM v, q WHERE v.vec_id != q.qid
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank FROM s)
SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine
FROM r WHERE rank <= 5
"""


def q_embed_centroids(spark, sf_dir):
    out = label_centroids(_load(spark, sf_dir, "embeddings"))
    return out.select(
        "label", "dim", F.round("centroid_v", 6).alias("centroid_v"), "n_vecs"
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN: label-centroid coarse quantizer, nprobe=2 of the
    coarse lists searched per query (pipeline/similarity.py ivf_topk)."""
    from tsp_spark.pipeline.similarity import ivf_topk

    emb = _load(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.where(F.col("vec_id") < 10), k=5, nprobe=2)


ORACLE_IVF = """
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
cd AS (
  SELECT label, r.i AS dim, round(avg(e[r.i + 1]), 6) AS cv
  FROM v, range(64) r(i) GROUP BY label, dim
),
cent AS (SELECT label, list(cv ORDER BY dim) AS c FROM cd GROUP BY label),
q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 10),
ps AS (
  SELECT q.qid, cent.label,
         round(list_dot_product(q.qe, cent.c)
               / (sqrt(list_dot_product(q.qe, q.qe))
                  * sqrt(list_dot_product(cent.c, cent.c))), 6) AS s
  FROM q, cent
),
pr AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY s DESC, label) AS r
       FROM ps),
probes AS (SELECT qid, label FROM pr WHERE r <= 2),
sc AS (
  SELECT p.qid AS query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(c.e, q.qe)
               / (sqrt(list_dot_product(c.e, c.e))
                  * sqrt(list_dot_product(q.qe, q.qe))), 6) AS cosine
  FROM probes p
  JOIN v c ON c.label = p.label
  JOIN q ON q.qid = p.qid
  WHERE c.vec_id != p.qid
),
r2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
       FROM sc)
SELECT query_id, neighbor_id, rank, cosine FROM r2 WHERE rank <= 5
"""


ORACLE_CENTROIDS = """
SELECT label, r.i::INT AS dim, round(avg(embedding[r.i + 1]::DOUBLE), 6) AS centroid_v,
       count(*) AS n_vecs
FROM embeddings, range(64) r(i)
GROUP BY label, dim
"""


def q_dedup_minhash_lsh(spark, sf_dir):
    return minhash_lsh_pairs(
        _load(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.5
    )


def _minhash_oracle(
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> str:
    """DuckDB replica of minhash_lsh_pairs: identical md5_long token
    hashes, shingle polynomial, permutation constants, banding, and
    signature-agreement estimate — exact value parity, not approximate."""
    from tsp_spark.pipeline.dedup import _MERSENNE as M
    from tsp_spark.pipeline.dedup import minhash_perms
    from tsp_spark.pipeline.hashing import md5_long_sql

    perms = minhash_perms(num_perm, seed)
    rpb = num_perm // bands
    # rolling shingle polynomial, 1-based list indexing, i from range(n-k+1)
    sh_expr = "th[i+1]"
    for j in range(1, shingle_k):
        sh_expr = f"(({sh_expr}) * 8191 + th[i+{j + 1}]) % {M}"
    mh_cols = ",\n       ".join(
        f"min(({a} * h + {b}) % {M}) AS mh{i}" for i, (a, b) in enumerate(perms)
    )
    band_conds = " OR ".join(
        "(" + " AND ".join(f"a.mh{i} = b.mh{i}" for i in range(bi * rpb, (bi + 1) * rpb)) + ")"
        for bi in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(num_perm)
    )
    return f"""
WITH tok AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '), t -> {md5_long_sql("t")} % {M}) AS th,
         len(string_split(text, ' ')) AS n
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN n >= {shingle_k}
              THEN list_transform(range(n - {shingle_k - 1}), i -> {sh_expr})
              ELSE [list_reduce(list_prepend(0::BIGINT, th),
                                (a, b) -> (a * 8191 + b) % {M})]
         END AS hs
  FROM tok
),
ex AS (SELECT doc_id, unnest(hs) AS h FROM sh),
sig AS (SELECT doc_id, {mh_cols} FROM ex GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, ({agree}) AS agree
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE {band_conds}
)
SELECT id_a, id_b, agree / {float(num_perm)} AS est_jaccard
FROM pairs WHERE agree / {float(num_perm)} >= {threshold}
"""


ORACLE_MINHASH = _minhash_oracle()


def _simhash_oracle(bits: int = 16) -> str:
    from tsp_spark.pipeline.hashing import md5_long_sql

    return f"""
WITH t AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        tok -> {md5_long_sql("tok")} % {1 << bits}) AS hs
  FROM documents
)
SELECT doc_id,
       CAST(list_sum(list_transform(range({bits}), b ->
         CASE WHEN list_sum(list_transform(hs, h ->
                CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
              THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
FROM t
"""


ORACLE_SIMHASH = _simhash_oracle()


def q_text_profile(spark, sf_dir):
    """Folded per-document text signals — quality screens
    (pipeline/text.py quality_cols), Gopher-style repetition filters
    (repetition_cols, r9), marker-word language ID (langid_cols),
    encoding-damage screens over a deterministically damaged projection
    (encoding_quality_cols + damage_text_col, r10 — the driver corpus is
    clean ASCII, so the raw screens would be constant-zero; damaging the
    text identically in both engines value-checks real fractions), and
    SimHash (simhash_col) — as ONE map-only projection over a single
    documents scan: no self-joins, every signal column independently
    oracle-verified."""
    from tsp_spark.pipeline.text import (
        c4_cols,
        damage_text_col,
        encoding_quality_cols,
        inject_repetition_col,
        langid_cols,
        quality_cols,
        repetition_cols,
        simhash_from_hashes,
        structure_text_col,
        token_hashes_col,
        with_gopher_repetition,
    )

    docs = _load(spark, sf_dir, "documents")
    # token hashes hoisted to their own projection: inline, the HOF
    # lambda re-evaluates every token's md5 once per simhash bit;
    # damaged text likewise hoisted so three regexp_counts share it;
    # the Gopher battery stages its own intermediate arrays for the
    # same per-element-re-evaluation reason (see with_gopher_repetition)
    docs = docs.withColumn("__dmg", damage_text_col("text", "doc_id"))
    # the Gopher battery runs over a repetition-INJECTED projection:
    # the synthetic corpus is random tokens, so dup-{5..10}-gram would
    # be constant zero and the value check vacuous (the enc_* lesson)
    docs = docs.withColumn(
        "__rep", inject_repetition_col("text", "doc_id")
    )
    # C4 cleaner over a deterministically STRUCTURED projection — the
    # flat token corpus has no lines/punctuation, so the real screens
    # would be vacuous (same pattern as __dmg / __rep)
    docs = docs.withColumn(
        "__st", structure_text_col("text", "doc_id")
    )
    docs, gopher_names = with_gopher_repetition(docs, "__rep")
    staged = docs.select(
        "doc_id",
        *quality_cols("text"),
        *repetition_cols("text"),
        *gopher_names,
        *langid_cols("text"),
        *encoding_quality_cols("__dmg", prefix="enc_"),
        *c4_cols("__st", prefix="c4_", clean_as_hash=True),
        token_hashes_col("text").alias("__sh"),
    )
    return staged.select(
        *[c for c in staged.columns if c != "__sh"],
        simhash_from_hashes(F.col("__sh")).alias("simhash"),
    )


_LANGID_OUT = ", ".join(
    [f"l.score_{lang}" for lang in LANG_MARKERS] + ["l.pred_lang"]
)
# Gopher-style repetition signals (text.py repetition_cols): the modal
# bigram's occurrence share and the share of trigram occurrences that
# repeat — exact-int divisions, bit-identical cross-engine
ORACLE_REPETITION = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 2 THEN
           list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         ELSE [] END AS g2,
         CASE WHEN len(toks) >= 3 THEN
           list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         ELSE [] END AS g3
  FROM t
)
SELECT doc_id,
       CASE WHEN len(g2) > 0 THEN
         list_max(list_transform(list_distinct(g2),
                                 d -> len(list_filter(g2, x -> x = d))))::DOUBLE
           / len(g2)
       ELSE 0.0 END AS top_bigram_frac,
       CASE WHEN len(g3) > 0 THEN
         len(list_filter(g3,
                         x -> len(list_filter(g3, y -> y = x)) >= 2))::DOUBLE
           / len(g3)
       ELSE 0.0 END AS dup_trigram_frac
FROM g
"""

def _encoding_oracle() -> str:
    """DuckDB mirror of encoding_quality_cols over damage_text_col —
    regexp_extract_all list lengths stand in for Spark's regexp_count."""
    from tsp_spark.pipeline.text import damage_text_sql

    def frac(pattern: str) -> str:
        return (
            f"CASE WHEN length(dmg) > 0 THEN "
            f"len(regexp_extract_all(dmg, '{pattern}'))::DOUBLE / length(dmg) "
            f"ELSE 0.0 END"
        )

    repl = frac("�")
    ctrl = frac("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
    nonascii = frac("[^\\x20-\\x7E]")
    return f"""
WITH d AS (
  SELECT doc_id, {damage_text_sql("text", "doc_id")} AS dmg FROM documents
)
SELECT doc_id,
       {repl} AS enc_replacement_char_frac,
       {ctrl} AS enc_control_char_frac,
       {nonascii} AS enc_non_ascii_frac
FROM d
"""


ORACLE_ENCODING = _encoding_oracle()


def _gopher_oracle() -> str:
    """DuckDB mirror of gopher_repetition_cols: per n, top-char mass =
    the (count DESC, gram-length DESC) winner's count×length; dup-char
    coverage = DISTINCT token positions inside duplicated-gram windows,
    summed by token length. Same deterministic tie rule and
    token-character basis as the Spark expressions."""
    from tsp_spark.pipeline.text import (
        DUP_GRAM_NS,
        TOP_GRAM_NS,
        inject_repetition_sql,
    )

    rep = inject_repetition_sql("text", "doc_id")
    ctes = [
        # battery over the repetition-INJECTED projection — see
        # q_text_profile (the synthetic corpus has no real dup-n-grams)
        "tok AS (SELECT doc_id, rep AS text, string_split(rep, ' ') AS t"
        f" FROM (SELECT doc_id, {rep} AS rep FROM documents))",
        "tchars AS (SELECT doc_id,"
        " list_sum(list_transform(t, x -> len(x)::BIGINT)) AS tc FROM tok)",
    ]
    outs = []
    for n in TOP_GRAM_NS:
        ctes.append(
            f"""g{n} AS (
  SELECT doc_id, array_to_string(t[p+1:p+{n}], ' ') AS gr
  FROM (SELECT doc_id, unnest(generate_series(0, len(t)-{n})) AS p, t
        FROM tok WHERE len(t) >= {n}))"""
        )
        ctes.append(
            f"""m{n} AS (
  SELECT doc_id, CASE WHEN c >= 2 THEN c * l ELSE 0 END AS mass FROM (
    SELECT doc_id, count(*)::BIGINT AS c, len(gr)::BIGINT AS l,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY count(*) DESC, len(gr) DESC) AS rn
    FROM g{n} GROUP BY doc_id, gr) WHERE rn = 1)"""
        )
        outs.append(
            f"CASE WHEN len(tok.t) >= {n} AND length(tok.text) > 0 THEN"
            f" coalesce(m{n}.mass, 0)::DOUBLE / length(tok.text)"
            f" ELSE 0.0 END AS top_{n}gram_char_frac"
        )
    for n in DUP_GRAM_NS:
        ctes.append(
            f"""p{n} AS (
  SELECT doc_id, p, array_to_string(t[p+1:p+{n}], ' ') AS gr
  FROM (SELECT doc_id, unnest(generate_series(0, len(t)-{n})) AS p, t
        FROM tok WHERE len(t) >= {n}))"""
        )
        ctes.append(
            f"""d{n} AS (SELECT doc_id, gr FROM p{n}
  GROUP BY doc_id, gr HAVING count(*) >= 2)"""
        )
        ctes.append(
            f"""c{n} AS (
  SELECT doc_id, sum(len(t[q+1]))::BIGINT AS cov FROM (
    SELECT DISTINCT doc_id, q FROM (
      SELECT p.doc_id, unnest(generate_series(p.p, p.p+{n}-1)) AS q
      FROM p{n} p JOIN d{n} USING (doc_id, gr))
  ) JOIN tok USING (doc_id) GROUP BY doc_id)"""
        )
        outs.append(
            f"CASE WHEN len(tok.t) >= {n} AND tchars.tc > 0 THEN"
            f" coalesce(c{n}.cov, 0)::DOUBLE / tchars.tc"
            f" ELSE 0.0 END AS dup_{n}gram_char_frac"
        )
    joins = "".join(
        f"\nLEFT JOIN m{n} USING (doc_id)" for n in TOP_GRAM_NS
    ) + "".join(f"\nLEFT JOIN c{n} USING (doc_id)" for n in DUP_GRAM_NS)
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT tok.doc_id, " + ",\n       ".join(outs)
        + "\nFROM tok JOIN tchars USING (doc_id)" + joins
    )


ORACLE_GOPHER = _gopher_oracle()


def _c4_oracle() -> str:
    """DuckDB mirror of c4_cols over structure_text_col: list_filter
    with the same terminal-punct / min-words / javascript rules, page
    verdict from sentence count / lorem ipsum / brace."""
    from tsp_spark.pipeline.text import structure_text_sql

    st = structure_text_sql("text", "doc_id")
    keep_line = (
        "regexp_matches(l, '[.!?\"]$')"
        " AND len(string_split(l, ' ')) >= 5"
        " AND NOT contains(lower(l), 'javascript')"
    )
    return f"""
WITH s AS (SELECT doc_id, {st} AS st FROM documents),
c AS (
  SELECT doc_id, st, string_split(st, chr(10)) AS lines,
         list_filter(string_split(st, chr(10)), l -> {keep_line}) AS kept
  FROM s
)
SELECT doc_id,
       -- coalesce: DuckDB's array_to_string([]) is NULL, Spark's
       -- concat_ws over an empty array is '' — hash the latter
       ('0x' || substring(md5(coalesce(array_to_string(kept, chr(10)), '')),
                          1, 15))::BIGINT AS c4_clean_hash,
       len(lines)::BIGINT AS c4_n_lines,
       len(kept)::BIGINT AS c4_n_kept_lines,
       len(regexp_extract_all(st, '[.!?]'))::BIGINT AS c4_n_sentences,
       (len(regexp_extract_all(st, '[.!?]')) >= 3
        AND NOT contains(lower(st), 'lorem ipsum')
        AND NOT contains(st, '{{')) AS c4_keep
FROM c
"""


ORACLE_C4 = _c4_oracle()

_GOPHER_OUT = ", ".join(
    [f"gp.top_{n}gram_char_frac" for n in (2, 3, 4)]
    + [f"gp.dup_{n}gram_char_frac" for n in (5, 6, 7, 8, 9, 10)]
)

ORACLE_TEXT_PROFILE = f"""
SELECT q.doc_id, q.n_chars_actual, q.n_tokens, q.stopword_ratio,
       q.unique_ratio, q.is_repetitive, r.top_bigram_frac,
       r.dup_trigram_frac, {_GOPHER_OUT}, {_LANGID_OUT},
       e.enc_replacement_char_frac, e.enc_control_char_frac,
       e.enc_non_ascii_frac,
       c4.c4_clean_hash, c4.c4_n_lines, c4.c4_n_kept_lines,
       c4.c4_n_sentences, c4.c4_keep, s.simhash
FROM ({ORACLE_QUALITY}) q
JOIN ({ORACLE_REPETITION}) r ON q.doc_id = r.doc_id
JOIN ({ORACLE_GOPHER}) gp ON q.doc_id = gp.doc_id
JOIN ({ORACLE_LANGID}) l ON q.doc_id = l.doc_id
JOIN ({ORACLE_ENCODING}) e ON q.doc_id = e.doc_id
JOIN ({ORACLE_C4}) c4 ON q.doc_id = c4.doc_id
JOIN ({ORACLE_SIMHASH}) s ON q.doc_id = s.doc_id
"""


def q_ann_lsh_topk(spark, sf_dir):
    emb = _load(spark, sf_dir, "embeddings")
    return lsh_bucket_topk(emb, emb.where(F.col("vec_id") < 10), k=5).select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def _ann_lsh_oracle(k: int = 5, bits: int = 8, dims: int = 64, seed: int = 42) -> str:
    """DuckDB replica of lsh_bucket_topk: the hyperplanes are embedded as
    double literals (repr round-trips exactly), and every dot product is
    a sequential left fold so the float arithmetic matches Spark's
    aggregate() element order bit-for-bit — the bucket sign test needs
    exact equality, not rounded closeness."""
    from tsp_spark.pipeline.similarity import lsh_planes

    planes = lsh_planes(bits, dims, seed)

    def seqdot(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(range({dims}), i -> {a}[i+1] * {b}[i+1]),"
            " (x, y) -> x + y)"
        )

    bucket_terms = []
    for i, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"
        bucket_terms.append(
            f"CASE WHEN {seqdot('e', f'({lit})')} >= 0 THEN {1 << i} ELSE 0 END"
        )
    bucket = " + ".join(bucket_terms)
    cos = (
        f"{seqdot('c.e', 'q.qe')}"
        f" / (sqrt({seqdot('c.e', 'c.e')}) * sqrt({seqdot('q.qe', 'q.qe')}))"
    )
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
b AS (SELECT vec_id, e, ({bucket}) AS bucket FROM v),
q AS (SELECT vec_id AS qid, e AS qe, bucket FROM b WHERE vec_id < 10),
s AS (
  SELECT q.qid AS query_id, c.vec_id AS neighbor_id, {cos} AS cos
  FROM b c JOIN q ON c.bucket = q.bucket AND c.vec_id != q.qid
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank FROM s)
SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine
FROM r WHERE rank <= {k}
"""


ORACLE_ANN_LSH = _ann_lsh_oracle()


def q_ann_topk(spark, sf_dir):
    """Folded ANN variants (identical output schema, tagged by
    ``variant`` so each stays independently oracle-verified): the
    brute-force exact cosine top-k baseline and the sign-LSH bucketed
    scale path. Fold exists so the new rel_tpch_fold fits the driver's
    50-query correctness window — same two compiled plans as the
    standalone forms, one unionByName."""
    parts = [
        ("exact", q_ann_cosine_topk),
        ("lsh", q_ann_lsh_topk),
    ]
    out = None
    for tag, fn in parts:
        d = fn(spark, sf_dir).select(F.lit(tag).alias("variant"), "*")
        out = d if out is None else out.unionByName(d)
    return out


ORACLE_ANN_TOPK = f"""
SELECT 'exact' AS variant, * FROM ({ORACLE_ANN})
UNION ALL
SELECT 'lsh' AS variant, * FROM ({ORACLE_ANN_LSH})
"""


def q_multimodal_features(spark, sf_dir):
    """Binary-column plumbing through the Arrow mapInPandas feature
    extractor, which runs the deterministic decode stub (no media is
    decoded; see pipeline/multimodal.py). The stub is pure byte
    arithmetic, so even the Python-side mapInPandas output is
    value-checked against a DuckDB oracle — features land as scalar
    columns (array columns don't sort in the gate's comparator)."""
    from tsp_spark.pipeline.multimodal import extract_image_features

    docs = _load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    out = extract_image_features(docs)
    return out.select(
        "media_id", "width", "height", "n_bytes",
        *[F.col("features")[i].alias(f"f{i}") for i in range(8)],
    )


def _multimodal_oracle() -> str:
    """DuckDB replica of _fake_decode_image on ASCII text bytes:
    byte[j] = ascii codepoint, features[i] = byte[i % n] XOR i (docs are
    ≥48 chars so i % n = i)."""
    feats = ",\n       ".join(
        f"xor(ascii(substr(text, {i + 1}, 1)), {i})::FLOAT AS f{i}" for i in range(8)
    )
    return f"""
WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents)
SELECT doc_id AS media_id,
       (16 + (n % 64))::INT AS width,
       (16 + ((n // 64) % 64))::INT AS height,
       n::BIGINT AS n_bytes,
       {feats}
FROM t
"""


ORACLE_MULTIMODAL = _multimodal_oracle()


def q_cep_scalar_functions(spark, sf_dir):
    """Function registry (FunctionRegistry.scala:114-324): arithmetic,
    math + degree variants, casts, integer division, Kleene-or."""
    from tsp_spark.compile.registry import DEFAULT_REGISTRY as R

    ev = _load(spark, sf_dir, "events")
    v, u = F.col("value"), F.col("user_id")

    def b(name, cols, dtypes):
        return R.build(name, cols, dtypes)[0]

    # Kleene-or with an injected Fail (NULL) side
    maybe = F.when(F.col("event_type") != "error", v > 120)
    return ev.select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        F.round(b("abs", [b("sub", [v, F.lit(100)], ["float64", "int64"])], ["float64"]), 6).alias("abs_dev"),
        F.round(b("sin", [v], ["float64"]), 6).alias("sin_v"),
        F.round(b("cosd", [v], ["float64"]), 6).alias("cosd_v"),
        b("div", [u, F.lit(7)], ["int64", "int64"]).alias("u_div7"),
        v.cast("int").alias("v_int32"),
        b("xor", [v > 100, u % 2 == 0], ["boolean", "boolean"]).alias("x"),
        b("or", [v > 150, maybe], ["boolean", "boolean"]).alias("kleene_or"),
    )


ORACLE_SCALAR_FUNCTIONS = """
SELECT user_id, epoch_ms(ts) AS ms,
       round(abs(value - 100), 6) AS abs_dev,
       round(sin(value), 6) AS sin_v,
       round(cos(radians(value)), 6) AS cosd_v,
       user_id // 7 AS u_div7,
       CAST(trunc(value) AS INTEGER) AS v_int32,
       ((value > 100) != (user_id % 2 = 0)) AS x,
       COALESCE((value > 150) OR m, (value > 150), m) AS kleene_or
FROM (SELECT *, CASE WHEN event_type != 'error' THEN value > 120 END AS m FROM events)
"""


def q_cep_reducers(spark, sf_dir):
    """Row-wise reducers sumOf/minOf/maxOf/countOf/avgOf with the
    `_`-condition (ReducePattern.scala:15-78, FunctionRegistry.scala:456-518)."""
    from tsp_spark.compile.compiler import rowwise_reduce

    li = _load(spark, sf_dir, "lineitem")
    cols = [F.col(c).cast("double") for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")]
    arr = F.array(*cols)
    all_nn = F.filter(arr, lambda x: x.isNotNull())
    # underscore condition: `_ > 0.05`
    filt = F.filter(arr, lambda x: x.isNotNull() & (x > 0.05))
    out = {}
    for name in ("sumof", "minof", "maxof", "countof", "avgof"):
        col, _t = rowwise_reduce(name, filt if name != "sumof" else all_nn)
        out[name] = col
    return li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lnum"),
        F.round(out["sumof"], 4).alias("sum_all"),
        F.round(out["minof"], 4).alias("min_gt"),
        F.round(out["maxof"], 4).alias("max_gt"),
        out["countof"].alias("cnt_gt"),
        F.round(out["avgof"], 4).alias("avg_gt"),
    )


ORACLE_REDUCERS = """
WITH t AS (
  SELECT l_orderkey AS okey, l_linenumber AS lnum,
         [CAST(l_quantity AS DOUBLE), CAST(l_extendedprice AS DOUBLE),
          CAST(l_discount AS DOUBLE), CAST(l_tax AS DOUBLE)] AS a
  FROM lineitem
),
f AS (
  SELECT okey, lnum,
         list_filter(a, x -> x IS NOT NULL) AS nn,
         list_filter(a, x -> x IS NOT NULL AND x > 0.05) AS g
  FROM t
)
SELECT okey, lnum,
       round(list_sum(nn), 4) AS sum_all,
       round(list_min(g), 4) AS min_gt,
       round(list_max(g), 4) AS max_gt,
       CAST(len(g) AS BIGINT) AS cnt_gt,
       round(CASE WHEN len(g) > 0 THEN list_sum(g) / len(g) END, 4) AS avg_gt
FROM f
"""


def q_cep_fill_wide(spark, sf_dir):
    """WideDataFilling: timed forward-fill of already-wide sparse columns
    (SparseRowsDataAccumulator.scala:56-63,140-167)."""
    from tsp_spark.ops.fill import forward_fill

    ev = _load(spark, sf_dir, "events")
    sparse = ev.select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "click", F.col("value")).alias("v_click"),
        F.when(F.col("event_type") == "error", F.col("value")).alias("v_error"),
    )
    filled = forward_fill(
        sparse, ["user_id"], "ts", ["v_click", "v_error"],
        default_timeout_ms=FILL_TIMEOUT_MS,
    )
    return filled.select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        F.round("v_click", 4).alias("v_click"),
        F.round("v_error", 4).alias("v_error"),
    )


def _fill_wide_col_sql(s: str, src: str) -> str:
    return (
        f"round(CASE WHEN epoch_ms(ts) - max(CASE WHEN {src} IS NOT NULL THEN epoch_ms(ts) END)"
        f" OVER w < {FILL_TIMEOUT_MS}"  # strict: expiry at exactly timeout (SEMANTICS.md rule 6)
        f" THEN last_value({src} IGNORE NULLS) OVER w END, 4) AS {s}"
    )


ORACLE_FILL_WIDE = f"""
WITH sparse AS (
  SELECT user_id, ts,
         CASE WHEN event_type = 'click' THEN value END AS c0,
         CASE WHEN event_type = 'error' THEN value END AS e0
  FROM events
)
SELECT user_id, epoch_ms(ts) AS ms,
       {_fill_wide_col_sql("v_click", "c0")},
       {_fill_wide_col_sql("v_error", "e0")}
FROM sparse
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_sink_rows(spark, sf_dir):
    """NewRowSchema sink projection with $-interpolation
    (SinkSchema.scala:28-62, PatternsToRowMapper.scala:54-131) —
    deterministic subset (no $UUID/$ProcessingDate)."""
    from tsp_spark.io.sink_schema import IntESValue, NewRowSchema, StringESValue, compile_sink_row

    ev = _load(spark, sf_dir, "events")
    iv = islands(ev, ["user_id"], "ts", F.col("value") > 150, max_gap_ms=GAP_MS)
    incidents = iv.select(
        F.lit(7).alias("pattern_id"),
        F.col("user_id").cast("int").alias("unit"),
        F.lit(0).alias("subunit"),
        F.concat(F.lit("P#7;"), F.col("user_id")).alias("incident_id"),
        "from_ts",
        "to_ts",
    )
    schema = NewRowSchema(
        {
            "series_storage": IntESValue("int32", 1),
            "id": StringESValue("int64", "$PatternID"),
            "identity": StringESValue("string", "$IncidentID"),
            "unit_label": StringESValue("string", "u=$Unit/$Subunit sev=$PatternMetadata@sev"),
            "from_s": StringESValue("string", "$IncidentStart"),
            "to_s": StringESValue("string", "$IncidentEnd"),
        }
    )
    return compile_sink_row(incidents, schema, metadata={"sev": "high"})


ORACLE_SINK_ROWS = f"""
WITH f AS (
  SELECT user_id, ts, (value > 150) AS cond,
         CASE WHEN (value > 150) IS DISTINCT FROM lag((value > 150)) OVER w
               OR lag(ts) OVER w IS NULL
               OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > {GAP_MS}
              THEN 1 ELSE 0 END AS b
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
i AS (SELECT *, sum(b) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM f),
iv AS (SELECT user_id, min(ts) AS from_ts, max(ts) AS to_ts
       FROM i WHERE cond GROUP BY user_id, isl)
SELECT CAST(1 AS INTEGER) AS series_storage,
       CAST(7 AS BIGINT) AS id,
       'P#7;' || CAST(user_id AS VARCHAR) AS identity,
       'u=' || CAST(user_id AS VARCHAR) || '/0 sev=high' AS unit_label,
       strftime(from_ts AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S.%g') AS from_s,
       strftime(to_ts AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S.%g') AS to_s
FROM iv
"""


def q_cep_minmax_window(spark, sf_dir):
    """Windowed min/max(x, T) — documented in the reference
    (docs/index.md:20: `max(oilPump, 20 sec) > 0`) but absent from its
    registry; implemented here as extensions over the same half-open
    trailing frame as GroupPattern."""
    ev = _load(spark, sf_dir, "events")
    ms = F.unix_millis("ts")
    w = Window.partitionBy("user_id").orderBy(ms).rangeBetween(-21_599_999, 0)
    return ev.select(
        "user_id",
        ms.alias("ms"),
        F.round(F.min("value").over(w), 4).alias("min6h"),
        F.round(F.max("value").over(w), 4).alias("max6h"),
    )


ORACLE_MINMAX_WINDOW = """
SELECT user_id, epoch_ms(ts) AS ms,
       round(min(value) OVER w, 4) AS min6h,
       round(max(value) OVER w, 4) AS max6h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
             RANGE BETWEEN 21599999 PRECEDING AND CURRENT ROW)
"""


def q_rel_q14_promo(spark, sf_dir):
    """TPC-H Q14-shaped promo revenue share: lineitem ⋈ part, exact
    integer-cents arithmetic. part is fact-scale at the 100 TB target,
    so no broadcast hint — AQE picks (shuffle join at scale)."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    rev_c = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast(
        "long"
    )
    j = li.join(part, li.l_partkey == part.p_partkey).where(
        (F.col("l_shipdate") >= _ts_lit(Q6_LO_MS))
        & (F.col("l_shipdate") < _ts_lit(Q6_HI_MS))
    )
    return j.agg(
        F.sum(F.when(F.col("p_type").startswith("PROMO"), rev_c)).alias("promo_cents"),
        F.sum(rev_c).alias("total_cents"),
    )


ORACLE_Q14 = f"""
SELECT sum(CASE WHEN p_type LIKE 'PROMO%'
                THEN CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT) END)::BIGINT
         AS promo_cents,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT))::BIGINT AS total_cents
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE epoch_ms(l_shipdate) >= {Q6_LO_MS} AND epoch_ms(l_shipdate) < {Q6_HI_MS}
"""


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (bucketed by label)."""
    from tsp_spark.pipeline.dedup import embedding_neardup_pairs

    emb = _load(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(
        emb, "embedding", "vec_id", ["label"], threshold=0.3
    )


ORACLE_DEDUP_EMBEDDING = """
WITH t AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)
       AS cosine
FROM t a JOIN t b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.3
"""


ORACLE_INCIDENTS_MULTI = f"""
WITH p1 AS ({_islands_oracle("value > 100")}),
p2 AS ({ORACLE_TIMER}),
p3 AS ({ORACLE_ANDTHEN}),
u AS (
  SELECT 1 AS pattern_id, user_id, from_ms, to_ms FROM p1
  UNION ALL SELECT 2, user_id, from_ms, to_ms FROM p2
  UNION ALL SELECT 3, user_id, from_ms, to_ms FROM p3
),
s AS (
  SELECT *, CASE WHEN max(to_ms) OVER
                   (PARTITION BY pattern_id, user_id ORDER BY from_ms, to_ms
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                 OR from_ms - max(to_ms) OVER
                   (PARTITION BY pattern_id, user_id ORDER BY from_ms, to_ms
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > 2000
            THEN 1 ELSE 0 END AS nb
  FROM u
),
s2 AS (SELECT *, sum(nb) OVER (PARTITION BY pattern_id, user_id ORDER BY from_ms, to_ms
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM s)
SELECT pattern_id, user_id, min(from_ms) AS from_ms, max(to_ms) AS to_ms
FROM s2 GROUP BY pattern_id, user_id, sess
"""


def q_cep_incidents_multi(spark, sf_dir):
    """Full job pipeline: multiple patterns → merged incident table
    (PatternsSearchJob end-to-end), value-checked against a composite
    oracle (union of the per-pattern oracles + sessionization).

    r13 fold: grew from 3 patterns to SEVEN spanning the whole grammar
    (the original three are patterns 1-3 verbatim) so the driver's
    50-entry correctness window pins the cross-pattern stacked plan,
    the present-slot lag, and the long-window O(n) forms in one row —
    see q_cep_incidents_wide. Bench fold-growth caveat applies: the
    r12 row timed 3 patterns, this one times 7."""
    return q_cep_incidents_wide(spark, sf_dir)


# r13: the WIDE flagship — one job, seven patterns spanning the whole
# grammar (predicate, timer, fused andThen, truth stats, wait, windowed
# avg, consume-once lag), so the driver's hash gate pins the
# cross-pattern stacked path (compile_intervals_multi: one scan + one
# keyed exchange for all seven, lag via a present slot) AND the
# long-window O(n) forms it routes through (prefix avg at 6 h, block
# leading-wait at 48 h). The oracle is the union of the per-pattern
# oracle CTEs + the same sessionization tail as cep_incidents_multi.

ORACLE_AVG_ISLANDS = f"""
WITH t AS (
  SELECT user_id, ts, epoch_ms(ts) AS ms,
         (avg(value) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
              RANGE BETWEEN 21599999 PRECEDING AND CURRENT ROW) > 100.3)
           AS tb
  FROM events
),
{_islandize_tail()}
"""

# consume-once lag(value) islands: the emission at each row is the
# previous IN-SERIES value (a >GAP_MS step is a series split — state
# resets, so the head of every series is ABSENT, not Fail); absent
# rows are invisible to islandization (runs merge across them), which
# the WHERE drop reproduces — the islandize tail's own gap rule then
# re-splits exactly at series boundaries because the dropped head row
# stretches the inter-series step even further past GAP_MS. `value`
# is non-null in the events table, so lv IS NULL ⟺ series head.
ORACLE_LAG_ISLANDS = f"""
WITH w1 AS (
  SELECT user_id, ts, epoch_ms(ts) AS ms,
         CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > {GAP_MS}
              THEN NULL ELSE lag(value) OVER w END AS lv
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
t AS (
  SELECT user_id, ts, ms, (lv > 120) AS tb FROM w1 WHERE lv IS NOT NULL
),
{_islandize_tail()}
"""

ORACLE_INCIDENTS_WIDE = f"""
WITH p1 AS ({_islands_oracle("value > 100")}),
p2 AS ({ORACLE_TIMER}),
p3 AS ({ORACLE_ANDTHEN}),
p4 AS ({ORACLE_TRUTH_COUNT}),
p5 AS ({ORACLE_WAIT}),
p6 AS ({ORACLE_AVG_ISLANDS}),
p7 AS ({ORACLE_LAG_ISLANDS}),
u AS (
  SELECT 1 AS pattern_id, user_id, from_ms, to_ms FROM p1
  UNION ALL SELECT 2, user_id, from_ms, to_ms FROM p2
  UNION ALL SELECT 3, user_id, from_ms, to_ms FROM p3
  UNION ALL SELECT 4, user_id, from_ms, to_ms FROM p4
  UNION ALL SELECT 5, user_id, from_ms, to_ms FROM p5
  UNION ALL SELECT 6, user_id, from_ms, to_ms FROM p6
  UNION ALL SELECT 7, user_id, from_ms, to_ms FROM p7
),
s AS (
  SELECT *, CASE WHEN max(to_ms) OVER
                   (PARTITION BY pattern_id, user_id ORDER BY from_ms, to_ms
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                 OR from_ms - max(to_ms) OVER
                   (PARTITION BY pattern_id, user_id ORDER BY from_ms, to_ms
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > 2000
            THEN 1 ELSE 0 END AS nb
  FROM u
),
s2 AS (SELECT *, sum(nb) OVER (PARTITION BY pattern_id, user_id ORDER BY from_ms, to_ms
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM s)
SELECT pattern_id, user_id, min(from_ms) AS from_ms, max(to_ms) AS to_ms
FROM s2 GROUP BY pattern_id, user_id, sess
"""


def q_cep_incidents_wide(spark, sf_dir):
    """Seven-pattern job through ONE stacked plan (r13
    compile_intervals_multi): every grammar family incl. a present-slot
    lag and the O(n) long-window forms, driver-gated against the
    composite oracle."""
    ev = _load(spark, sf_dir, "events")
    patterns = [
        RawPattern(1, "value > 100"),
        RawPattern(2, "value > 60 for 12 hr"),
        RawPattern(3, "value > 150 andThen event_type = 'error'"),
        RawPattern(4, "value > 80 for 48 hr > 2 times"),
        RawPattern(5, "wait(48 hr, value > 150)"),
        RawPattern(6, "avg(value, 6 hr) > 100.3"),
        RawPattern(7, "lag(value) > 120"),
    ]
    out = search_incidents(
        ev,
        patterns,
        keys=["user_id"],
        ts="ts",
        fields_types=EVENTS_FIELDS,
        max_gap_ms=GAP_MS,
        session_gap_ms=2_000,
    )
    return out.select(
        "pattern_id",
        "user_id",
        F.unix_millis("from_ts").alias("from_ms"),
        F.unix_millis("to_ts").alias("to_ms"),
    )


# ---------------------------------------------------------------------------
# training-data preparation ops (r8): chunking, contamination, PII
# ---------------------------------------------------------------------------


def q_prep_chunks(spark, sf_dir):
    """Document → training-window chunks (pipeline/prep.py
    chunk_documents): 30-token chunks with 10-token overlap; map-only
    split/sequence/slice expressions, no shuffle."""
    from tsp_spark.pipeline.prep import chunk_documents

    return chunk_documents(
        _load(spark, sf_dir, "documents"), "text", "doc_id",
        chunk_tokens=30, overlap=10,
    )


ORACLE_PREP_CHUNKS = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
s AS (
  SELECT doc_id, ws,
         unnest(range(0, greatest(len(ws) - 10, 1), 20)) AS start
  FROM t
)
SELECT doc_id,
       (start // 20)::BIGINT AS chunk_id,
       array_to_string(list_slice(ws, start + 1, start + 30), ' ') AS chunk_text,
       least(30, len(ws) - start)::BIGINT AS n_tokens
FROM s
"""


def q_prep_contamination(spark, sf_dir):
    """Benchmark-contamination check (pipeline/prep.py
    contamination_check): docs from source 'src0' act as the pseudo
    evaluation corpus; every other document is scored by the distinct
    word 3-grams it shares with it. The generated duplicate tail
    guarantees real hits: a near-copy of a src0 doc in another source
    is flagged.

    Folded (r9): variant 'str' joins on the n-gram strings (the exact
    oracle form); variant 'hash' joins on xxhash64 8-byte keys with a
    forced bench broadcast — the shape for benches too big to shuffle
    as strings. Both check against the same string-form oracle
    (hashing is result-identical up to negligible xxhash64
    collisions)."""
    from tsp_spark.pipeline.prep import contamination_check

    docs = _load(spark, sf_dir, "documents")
    out = None
    for tag, kw in (
        ("str", {}),
        ("hash", {"hash_ngrams": True, "broadcast_bench": True}),
    ):
        d = contamination_check(
            docs.where(F.col("source") != "src0"),
            docs.where(F.col("source") == "src0"),
            "text", "doc_id", n=3, **kw,
        ).select(F.lit(tag).alias("variant"), "*")
        out = d if out is None else out.unionByName(d)
    return out


_ORACLE_PREP_CONTAMINATION_ONE = """
WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
ng AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(ws) - 3 + 2),
                               i -> array_to_string(list_slice(ws, i, i + 2), ' '))) AS g
  FROM tok WHERE len(ws) >= 3
),
bench AS (SELECT DISTINCT g FROM ng WHERE source = 'src0'),
cand AS (SELECT DISTINCT doc_id, g FROM ng WHERE source <> 'src0'),
hits AS (SELECT doc_id, count(*) AS c FROM cand JOIN bench USING (g) GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(h.c, 0)::BIGINT AS n_shared,
       (COALESCE(h.c, 0) >= 1)::BIGINT AS is_contaminated
FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
LEFT JOIN hits h USING (doc_id)
"""

# the hash variant is result-identical to the string form (xxhash64
# collisions between distinct 3-grams aside), so both variants check
# against the one string-form oracle
ORACLE_PREP_CONTAMINATION = f"""
SELECT 'str' AS variant, * FROM ({_ORACLE_PREP_CONTAMINATION_ONE})
UNION ALL
SELECT 'hash' AS variant, * FROM ({_ORACLE_PREP_CONTAMINATION_ONE})
"""


def q_prep_redact(spark, sf_dir):
    """PII redaction (pipeline/prep.py redact_pii) over a
    deterministically PII-injected corpus (the raw testdata holds no
    emails/IPs/phones, so both engines append the same synthetic
    contact line per doc before scrubbing — the oracle compares the
    REDACTED TEXT byte-for-byte plus per-category match counts)."""
    from tsp_spark.pipeline.prep import redact_pii

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example or +1415550"),
            (F.col("doc_id") % 10000).cast("string"),
            F.lit(" at 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    return redact_pii(docs, "text", "doc_id")


ORACLE_PREP_REDACT = r"""
WITH t AS (
  SELECT doc_id,
         text || ' contact user' || doc_id::VARCHAR
              || '@mail.example or +1415550' || (doc_id % 10000)::VARCHAR
              || ' at 10.0.' || (doc_id % 256)::VARCHAR || '.7' AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
         '\+[0-9]{7,15}', '<PHONE>', 'g') AS redacted,
       len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
       len(regexp_extract_all(text,
         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))::BIGINT AS n_ip,
       len(regexp_extract_all(text, '\+[0-9]{7,15}'))::BIGINT AS n_phone
FROM t
"""


def q_dedup_simhash(spark, sf_dir):
    """Banded SimHash near-dup pairs (pipeline/dedup.py simhash_pairs):
    Hamming ≤ 3 over 52-bit md5-portable fingerprints; candidates from
    a (band, band_value) equi-join — the pigeonhole guarantee keeps it
    exact vs the oracle's brute-force popcount over all pairs.

    52 bits (not 32, r8 perf fix): 13-bit band values give 8192
    distinct keys per band instead of 256, cutting false band
    collisions ~32× (10.2 s → see BENCH at sf0.1 on the
    near-identical driver corpus); 52 is the ceiling at which every
    power-of-two division in the fingerprint pipeline stays IEEE-exact
    (mantissa-preserving), so both engines remain bit-identical."""
    from tsp_spark.pipeline.dedup import simhash_pairs

    return simhash_pairs(
        _load(spark, sf_dir, "documents"), "text", "doc_id",
        bits=52, bands=4, max_hamming=3,
    )


ORACLE_DEDUP_SIMHASH = """
WITH th AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
           t -> ('0x' || substring(md5(t), 1, 15))::BIGINT % 4503599627370496) AS hs
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_sum(list_transform(range(0, 52),
           b -> CASE WHEN list_sum(list_transform(hs,
                  h -> CASE WHEN (h // (1::BIGINT << b)) % 2 = 1
                       THEN 1 ELSE -1 END)) > 0
                THEN (1::BIGINT << b) ELSE 0 END))::BIGINT AS sh
  FROM th
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------
QUERIES = {
    "cep_threshold_islands": q_cep_threshold_islands,
    "cep_timer_for": q_cep_timer_for,
    "cep_wait_until_tol": q_cep_wait_until_tol,
    "cep_andthen": q_cep_andthen,
    "cep_avg_window": q_cep_avg_window,
    "cep_lag": q_cep_lag,
    "cep_truth_count": q_cep_truth_count,
    "cep_fill_narrow": q_cep_fill_narrow,
    "cep_sessionize": q_cep_sessionize,
    "cep_incidents_multi": q_cep_incidents_multi,
    "cep_scalar_functions": q_cep_scalar_functions,
    "cep_reducers": q_cep_reducers,
    "cep_fill_wide": q_cep_fill_wide,
    "sink_rows": q_sink_rows,
    "cep_minmax_window": q_cep_minmax_window,
    "rel_q14_promo": q_rel_q14_promo,
    "dedup_embedding": q_dedup_embedding,
    "rel_q1_pricing": q_rel_q1_pricing,
    "rel_q6_revenue": q_rel_q6_revenue,
    "rel_q3_shipping": q_rel_q3_shipping,
    "rel_q5_nation_revenue": q_rel_q5_nation_revenue,
    "rel_window_topk": q_rel_window_topk,
    "rel_asof_join": q_rel_asof_join,
    "dedup_exact": q_dedup_exact,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_clusters": q_dedup_clusters,
    "text_token_stats": q_text_token_stats,
    "text_tokens_bpe": q_text_tokens_bpe,
    "text_top_tokens": q_text_top_tokens,
    "sketch_fold": q_sketch_fold,
    "curation_sample_split": q_curation_sample_split,
    "embed_quantize": q_embed_quantize,
    "pipeline_curation_e2e": q_pipeline_curation_e2e,
    "text_profile": q_text_profile,
    "text_fingerprint": q_text_fingerprint,
    "ann_topk": q_ann_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "embed_centroids": q_embed_centroids,
    "multimodal_features": q_multimodal_features,
    "prep_chunks": q_prep_chunks,
    "prep_contamination": q_prep_contamination,
    "prep_redact": q_prep_redact,
    "dedup_simhash": q_dedup_simhash,
}

ORACLES = {
    "cep_threshold_islands": _islands_oracle("value > 100", extra_out=", count(*) AS n_rows"),
    "cep_timer_for": ORACLE_TIMER,
    "cep_wait_until_tol": ORACLE_WAIT_UNTIL_TOL,
    "cep_andthen": ORACLE_ANDTHEN,
    "cep_avg_window": ORACLE_AVG_WINDOW,
    "cep_lag": ORACLE_LAG,
    "cep_truth_count": ORACLE_TRUTH_COUNT,
    "cep_fill_narrow": ORACLE_FILL_NARROW,
    "cep_sessionize": ORACLE_SESSIONIZE,
    "cep_scalar_functions": ORACLE_SCALAR_FUNCTIONS,
    "cep_reducers": ORACLE_REDUCERS,
    "cep_fill_wide": ORACLE_FILL_WIDE,
    "sink_rows": ORACLE_SINK_ROWS,
    "cep_minmax_window": ORACLE_MINMAX_WINDOW,
    "rel_q14_promo": ORACLE_Q14,
    "dedup_embedding": ORACLE_DEDUP_EMBEDDING,
    "rel_q1_pricing": ORACLE_Q1,
    "rel_q6_revenue": ORACLE_Q6,
    "rel_q3_shipping": ORACLE_Q3,
    "rel_q5_nation_revenue": ORACLE_Q5,
    "rel_window_topk": ORACLE_WINDOW_TOPK,
    "rel_asof_join": ORACLE_ASOF,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_jaccard": ORACLE_DEDUP_JACCARD,
    "dedup_minhash_lsh": ORACLE_MINHASH,
    "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    "text_token_stats": ORACLE_TOKEN_STATS,
    "text_tokens_bpe": ORACLE_TOKENS_BPE,
    "text_top_tokens": ORACLE_TOP_TOKENS,
    "sketch_fold": ORACLE_SKETCH_FOLD,
    "curation_sample_split": ORACLE_SAMPLE_SPLIT,
    "embed_quantize": ORACLE_EMBED_QUANTIZE,
    "pipeline_curation_e2e": ORACLE_CURATION_E2E,
    "text_profile": ORACLE_TEXT_PROFILE,
    "text_fingerprint": ORACLE_FINGERPRINT,
    "ann_topk": ORACLE_ANN_TOPK,
    "ann_ivf_topk": ORACLE_IVF,
    "embed_centroids": ORACLE_CENTROIDS,
    "cep_incidents_multi": ORACLE_INCIDENTS_WIDE,
    "multimodal_features": ORACLE_MULTIMODAL,
    "prep_chunks": ORACLE_PREP_CHUNKS,
    "prep_contamination": ORACLE_PREP_CONTAMINATION,
    "prep_redact": ORACLE_PREP_REDACT,
    "dedup_simhash": ORACLE_DEDUP_SIMHASH,
}

# extended relational anchors (TPC-H Q2/Q4/Q7/Q10/Q12/Q16/Q18/Q19/Q22
# shapes — beyond-reference coverage of SURVEY §2.11's absent categories)
from tsp_spark.queries_relx import REL_ORACLES, REL_QUERIES  # noqa: E402

QUERIES.update(REL_QUERIES)
ORACLES.update(REL_ORACLES)
