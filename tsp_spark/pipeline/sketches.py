"""Deterministic sketches for cardinality at scale.

KMV (k-minimum-values) distinct-count sketch: keep the k smallest
values of a uniform hash of the keys; if fewer than k distinct hashes
exist the count is exact, otherwise the estimator (k−1)/h_k (h_k = the
k-th smallest hash normalized to [0,1)) is unbiased with relative error
~1/√(k−2).

Unlike HLL++ (Spark) vs HyperLogLog (DuckDB) — whose register layouts
differ so their estimates can never be value-compared — KMV is a pure
function of the hash values, and the md5_long bridge
(pipeline/hashing.py) makes those identical in both engines, so the
sketch is oracle-checkable to the last bit.

100 TB shape: stage 1 dedups (group, hash) pairs with a partial-agg
groupBy (map-side combine collapses repeats before the shuffle);
stage 2 keeps the k smallest per group with one window pass over the
same partitioning; stage 3 is a tiny per-group aggregate. Sketch size
per group is k longs — mergeable by union+re-truncate."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tsp_spark.pipeline.hashing import md5_long

HASH_SPACE = float(1 << 60)  # md5_long is 60-bit non-negative


def _md5_long_sql(expr: str) -> str:
    """SPARK SQL string computing exactly ``hashing.md5_long`` (r14,
    guide §5.3: the sketch builders assemble their expressions as SQL
    strings — identical parsed trees, a fraction of the py4j round
    trips per plan build)."""
    return (
        f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
    )


def _quoted(group_cols) -> str:
    return ", ".join(f"`{c}`" for c in group_cols)


def kmv_distinct(
    df: DataFrame,
    value_col: str | Column,
    group_cols: Sequence[str],
    k: int = 64,
) -> DataFrame:
    """Per-group distinct-count estimate: (group_cols…, n_kept,
    est_distinct). Exact when a group has < k distinct values."""
    col = F.col(value_col) if isinstance(value_col, str) else value_col
    h = (
        F.expr(_md5_long_sql(f"CAST(`{value_col}` AS STRING)"))
        if isinstance(value_col, str)
        else md5_long(col.cast("string"))
    )
    g = _quoted(group_cols)
    gq = [f"`{c}`" for c in group_cols]
    # NULL values are not countable distinct values: Spark sorts NULLS
    # FIRST, so an unfiltered NULL hash would occupy a top-k slot,
    # inflate n_kept and bias the estimator — while DuckDB (NULLS
    # LAST) would disagree (review-caught)
    pairs = (
        df.where(col.isNotNull())
        .select(*group_cols, h.alias("__h"))
        .distinct()
    )
    # salted local top-k before the per-group window (the top_tokens
    # trick, provably result-identical: a hash below its salt-locale's
    # top k is below the global top k): the reduce-side window input
    # is bounded at 32·k rows per group instead of a group's ENTIRE
    # distinct hash set flowing through one task at 100 TB
    pairs = pairs.selectExpr(
        *gq,
        "__h",
        "row_number() OVER (PARTITION BY "
        f"{g}, pmod(__h, 32) ORDER BY __h) AS __lr",
    ).where(F.expr(f"__lr <= {k}"))
    kept = pairs.selectExpr(
        *gq,
        "__h",
        f"row_number() OVER (PARTITION BY {g} ORDER BY __h) AS __r",
    ).where(F.expr(f"__r <= {k}"))
    return kept.groupBy(*group_cols).agg(*_kmv_estimate_aggs(k))


# ---------------------------------------------------------------------------
# HyperLogLog (p=8) — oracle-checkable via the md5_long bridge
# ---------------------------------------------------------------------------

HLL_P = 8
HLL_M = 1 << HLL_P  # 256 registers
HLL_W = 60 - HLL_P  # 52 bits of rest after the bucket index
# alpha_256 * m^2 * 2^52-scaling numerator, precomputed so the estimate
# is ONE double division of exact integers (IEEE-exact in both engines):
# alpha = 0.7213 / (1 + 1.079/m); numerator = alpha * m^2 * 2^(W+1)
HLL_ALPHA_NUM = 4.2399330249068963e20


def hll_distinct(
    df: DataFrame,
    value_col: str | Column,
    group_cols: Sequence[str],
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate: (group_cols…,
    v_zero, sum_reg, est_distinct).

    Spark's own approx_count_distinct is HLL++ whose register layout
    differs from DuckDB's approx_count_distinct, so the two can never
    be value-compared; this is classic Flajolet HLL over the md5_long
    60-bit hash — bucket = h mod 256, rho = leading-zero rank of the
    remaining 52 bits — making every register, and therefore the
    estimate, bit-reproducible in DuckDB SQL.

    Exactness discipline: the harmonic sum Z = Σ 2^(−reg) is kept as
    the exact integer S = Z·2^(W+1) (≤ 256·2^53 < 2^63), so the raw
    estimate is a single IEEE division of two exact numbers; the only
    transcendental is ln() on the linear-counting path (V of 256
    possible values), rounded to 4 decimals.

    100 TB shape: stage 1 collapses (group, bucket) to max(rho) with a
    partial-agg groupBy (map-side combine bounds the shuffle at
    |groups|·256 rows no matter the input size); stage 2 is a tiny
    per-group fold. Registers are mergeable by max — the sketch
    unions across datasets for free.

    v_zero = empty buckets (drives the linear-counting branch),
    sum_reg = Σ registers (an exact-integer integrity witness).
    """
    regs = hll_registers(df, value_col, group_cols)
    return hll_estimate_from_registers(regs, group_cols)


def hll_registers(
    df: DataFrame,
    value_col: str | Column,
    group_cols: Sequence[str],
) -> DataFrame:
    """The HLL register table (group_cols…, __b, __reg) — the sketch's
    whole state. max-mergeable, so it is ALSO the streaming form: a
    streaming groupBy over the same expressions maintains the exact
    registers incrementally (one stateful agg with |groups|·256
    bounded state), and ``hll_estimate_from_registers`` derives the
    estimate from the sink at any time."""
    col = F.col(value_col) if isinstance(value_col, str) else value_col
    if isinstance(value_col, str):
        h_sql = _md5_long_sql(f"CAST(`{value_col}` AS STRING)")
        # h >> 8, integer-exact (h is 60-bit: a double round-trip
        # would corrupt bits past 2^53)
        rest = f"shiftright({h_sql}, {HLL_P})"
        top = HLL_W + 1
        sel = [
            *[f"`{c}`" for c in group_cols],
            f"pmod({h_sql}, {HLL_M}) AS __b",
            f"CASE WHEN {rest} = 0 THEN {top} "
            f"ELSE {top} - length(bin({rest})) END AS __rho",
        ]
        pre = df.where(col.isNotNull()).selectExpr(*sel)
    else:
        h = md5_long(col.cast("string"))
        bucket = F.pmod(h, F.lit(HLL_M))
        rest_c = F.shiftright(h, HLL_P)
        rho = F.when(rest_c == 0, F.lit(HLL_W + 1)).otherwise(
            F.lit(HLL_W + 1) - F.length(F.bin(rest_c))
        )
        pre = df.where(col.isNotNull()).select(
            *group_cols, bucket.alias("__b"), rho.alias("__rho")
        )
    return pre.groupBy(*group_cols, "__b").agg(
        F.expr("max(__rho) AS __reg")
    )


def hll_estimate_from_registers(
    regs: DataFrame, group_cols: Sequence[str]
) -> DataFrame:
    """Fold a register table into (group_cols…, v_zero, sum_reg,
    est_distinct) — shared by the batch path and any register sink
    (streaming state, merged multi-dataset sketches). A plain UNION of
    several register tables is accepted: the max-merge below collapses
    duplicate (group, bucket) rows first (without it a unioned input
    would double-count the harmonic sum and drive v_zero negative —
    review-caught, ≤256 rows/group so the extra agg is free)."""
    regs = regs.groupBy(*group_cols, "__b").agg(
        F.expr("max(__reg) AS __reg")
    )
    per_group = regs.groupBy(*group_cols).agg(
        F.expr(f"{HLL_M} - count(1) AS v_zero"),
        F.expr("CAST(sum(__reg) AS BIGINT) AS sum_reg"),
        # variable-amount shift: the SQL form (the Python shiftleft
        # binding only takes a literal bit count)
        F.expr(
            f"CAST(sum(shiftleft(CAST(1 AS BIGINT), {HLL_W + 1} - __reg))"
            " AS BIGINT) AS __s_present"
        ),
    )
    s_total = (
        f"CAST(v_zero * {1 << (HLL_W + 1)} + __s_present AS DOUBLE)"
    )
    est_raw = f"{HLL_ALPHA_NUM!r} / {s_total}"
    lin = f"{float(HLL_M)!r}D * ln({float(HLL_M)!r}D / v_zero)"
    est = (
        f"CASE WHEN {est_raw} <= {2.5 * HLL_M!r}D AND v_zero > 0"
        f" THEN {lin} ELSE {est_raw} END"
    )
    return per_group.selectExpr(
        *[f"`{c}`" for c in group_cols],
        "v_zero",
        "sum_reg",
        f"round({est}, 4) AS est_distinct",
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_P = 2147483647  # 2^31 − 1 (Mersenne); h is reduced mod P first so
# every product a·h + b stays < 2^62 — no BIGINT overflow in either engine
CMS_A = (1000003, 999983, 756065179, 477218579)  # all < 2^31
CMS_B = (12345, 67891, 424243, 777767)


def cms_heavy_hitters(
    df: DataFrame,
    item_col: str | Column,
    inv_phi: int = 50,
) -> DataFrame:
    """Count-min-sketch heavy hitters: (item, est_count, n_exact) for
    every item whose CMS estimate is ≥ 1/``inv_phi`` of the stream
    length (est·inv_phi ≥ total — integer cross-multiplied, no
    floats anywhere).

    Genuine depth×width = 4×256 counter sketch: each occurrence
    increments d counters addressed by independent universal hashes
    ((aᵢ·h + bᵢ) mod (2³¹−1)) mod w over the md5_long item hash; an
    item's estimate is the MIN of its d counters — ≥ the true count
    always (one-sided error), within εN with ε = e/w. All-integer, so
    DuckDB reproduces the sketch bit-for-bit.

    n_exact (the true count) rides along as the one-sided-error
    witness: est_count ≥ n_exact row-by-row.

    100 TB shape: building the sketch is a groupBy over at most d·w =
    1024 cells (map-side combine does nearly all the work — the
    shuffle moves ≤ 1024 rows per map task); estimation broadcasts
    those 1024 cells to the candidate items. Counters are mergeable
    by cell-wise sum across partitions/datasets.
    """
    col = F.col(item_col) if isinstance(item_col, str) else item_col
    items = df.where(col.isNotNull()).select(col.cast("string").alias("item"))
    # The counters are the WEIGHTED cell sums over the exact per-item
    # groupBy (map-side combined) — identical cell values (each
    # occurrence of an item lands in the same d cells), but the 4-way
    # explode runs over |distinct items| rows instead of the full
    # stream, and the saving widens with duplication at scale.
    exact = items.groupBy("item").agg(F.count(F.lit(1)).alias("n_exact"))
    counters = (
        exact.selectExpr(
            "n_exact", f"explode({_cms_cells_sql('item')}) AS c"
        )
        .groupBy(F.col("c.i").alias("i"), F.col("c.bucket").alias("bucket"))
        .agg(F.expr("sum(n_exact) AS cnt"))
    )
    return cms_heavy_hitters_from_counters(counters, exact, inv_phi).select(
        "item", "est_count", "n_exact"
    )


def _cms_cells(item: Column) -> Column:
    """The d (row, bucket) cells an item addresses — array of structs
    (i, bucket), shared by sketch build and estimation."""
    hr = F.pmod(md5_long(item), F.lit(CMS_P))
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.pmod(
                    F.pmod(F.lit(CMS_A[i]) * hr + F.lit(CMS_B[i]), F.lit(CMS_P)),
                    F.lit(CMS_WIDTH),
                ).alias("bucket"),
            )
            for i in range(CMS_DEPTH)
        ]
    )


def _cms_cells_sql(item_expr: str) -> str:
    """SQL-string form of ``_cms_cells`` (r14, guide §5.3) — the same
    universal-hash chains, parsed from one string instead of ~100
    Column round trips per use."""
    hr = f"pmod({_md5_long_sql(item_expr)}, {CMS_P})"
    return "array(" + ", ".join(
        f"struct({i} AS i, pmod(pmod({CMS_A[i]} * {hr} + {CMS_B[i]}, "
        f"{CMS_P}), {CMS_WIDTH}) AS bucket)"
        for i in range(CMS_DEPTH)
    ) + ")"


def cms_counters(df: DataFrame, item_col: str | Column) -> DataFrame:
    """The CMS counter table (i, bucket, cnt) — the sketch's whole
    state, built in ONE aggregation over raw occurrences, so it is
    ALSO the streaming form (the hll_registers pattern): a streaming
    groupBy over the same cell expressions maintains the exact
    counters incrementally with state bounded at depth·width = 1024
    rows no matter the stream length, and
    ``cms_heavy_hitters_from_counters`` derives the heavy hitters from
    the sink at any time. Counters are cell-sum-mergeable across
    partitions, triggers, and datasets."""
    col = F.col(item_col) if isinstance(item_col, str) else item_col
    items = df.where(col.isNotNull()).select(col.cast("string").alias("item"))
    return (
        items.selectExpr(f"explode({_cms_cells_sql('item')}) AS c")
        .groupBy(F.col("c.i").alias("i"), F.col("c.bucket").alias("bucket"))
        .agg(F.expr("CAST(count(1) AS BIGINT) AS cnt"))
    )


def cms_heavy_hitters_from_counters(
    counters: DataFrame, candidates: DataFrame, inv_phi: int = 50
) -> DataFrame:
    """Estimate heavy hitters from a counter table and a candidate
    item set (a DataFrame with an ``item`` string column; extra
    columns ride along into the output). A plain UNION of several
    counter tables is accepted — duplicate cells are cell-sum-merged
    first (≤ 1024 rows, free). The stream total needed for the φ
    threshold is recovered from the sketch itself: every occurrence
    increments exactly one cell of row 0, so Σ cnt over i=0 IS the
    occurrence count — no side channel from the build."""
    counters = counters.groupBy("i", "bucket").agg(
        F.expr("sum(cnt) AS cnt")
    )
    total = counters.where(F.expr("i = 0")).agg(
        F.expr("sum(cnt) AS __total")
    )
    keep = list(candidates.columns)
    keep_q = [f"`{c}`" for c in keep]
    cand = candidates.selectExpr(
        *keep_q, f"explode({_cms_cells_sql('item')}) AS c"
    ).selectExpr(*keep_q, "c.i AS i", "c.bucket AS bucket")
    # LEFT join + zero-fill: a sketch stores zero cells implicitly, so
    # an inner join would hand a never-seen candidate the min of only
    # its COLLIDING cells — a spurious positive count where the real
    # CMS minimum is 0 (review-caught, r9: the generalized API accepts
    # watchlist candidates absent from the stream)
    est = (
        cand.join(F.broadcast(counters), ["i", "bucket"], "left")
        .groupBy(*keep)
        .agg(
            F.expr(
                "min(coalesce(cnt, CAST(0 AS BIGINT))) AS est_count"
            )
        )
    )
    return (
        est.join(F.broadcast(total))
        .where(F.expr(f"est_count * {inv_phi} >= __total"))
        .drop("__total")
    )


# ---------------------------------------------------------------------------
# Deterministic bottom-k sample quantiles
# ---------------------------------------------------------------------------


def quantile_bottomk(
    df: DataFrame,
    value_col: str,
    key_col: str,
    group_cols: Sequence[str],
    k: int = 128,
    qs: Sequence[tuple[str, int, int]] = (
        ("q_50", 1, 2),
        ("q_90", 9, 10),
        ("q_99", 99, 100),
    ),
) -> DataFrame:
    """Per-group sample quantiles over a deterministic uniform sample:
    the k rows with the smallest md5_long(key) per group (exact —
    the whole group — when it has ≤ k rows), then nearest-rank
    (type-1) quantiles of ``value_col`` within the sample:
    (group_cols…, n_sample, q_50, q_90, q_99).

    The hash-bottom-k sample replaces reservoir sampling (whose result
    depends on row visit order, so it can never be oracle-compared);
    bottom-k by a fixed hash is the standard distributed-uniform
    alternative — coordination-free, mergeable (union + re-truncate),
    and identical in any engine. Nearest-rank picks an actual data
    value (no interpolation arithmetic), so outputs compare exactly
    as doubles.

    100 TB shape: the same salted local bottom-k pre-pass as
    kmv_distinct bounds the per-group window input at 32·k rows
    regardless of group size; everything after operates on ≤ k rows
    per group."""
    g = _quoted(group_cols)
    gq = [f"`{c}`" for c in group_cols]
    # NULL keys are filtered (md5_long(NULL)=NULL sorts NULLS FIRST in
    # Spark but LAST in DuckDB — the kmv NULL rule, review-caught
    # here too), and ties on duplicate keys break on the VALUE so the
    # sample is deterministic, not partition-order-dependent
    base = df.where(
        F.col(value_col).isNotNull() & F.col(key_col).isNotNull()
    ).selectExpr(
        *gq,
        f"`{value_col}` AS __v",
        f"{_md5_long_sql(f'CAST(`{key_col}` AS STRING)')} AS __h",
    )
    base = base.selectExpr(
        "*",
        "row_number() OVER (PARTITION BY "
        f"{g}, pmod(__h, 32) ORDER BY __h, __v) AS __lr",
    ).where(F.expr(f"__lr <= {k}"))
    sample = base.selectExpr(
        "*",
        f"row_number() OVER (PARTITION BY {g} ORDER BY __h, __v) AS __r",
    ).where(F.expr(f"__r <= {k}"))
    return sample_quantiles(sample, group_cols, qs)


def sample_quantiles(
    sample: DataFrame,
    group_cols: Sequence[str],
    qs: Sequence[tuple[str, int, int]] = (
        ("q_50", 1, 2),
        ("q_90", 9, 10),
        ("q_99", 99, 100),
    ),
) -> DataFrame:
    """Nearest-rank quantiles over an already-drawn per-group sample
    (a frame with group_cols and ``__v``) — shared by the batch
    ``quantile_bottomk`` and any sample sink (the streaming bottom-k
    state)."""
    g = _quoted(group_cols)
    ranked = sample.selectExpr(
        *[f"`{c}`" for c in group_cols],
        "__v",
        f"row_number() OVER (PARTITION BY {g} ORDER BY __v) AS __vr",
        f"count(1) OVER (PARTITION BY {g}) AS n_sample",
    )
    aggs = [F.expr("max(n_sample) AS n_sample")]
    for name, num, den in qs:
        # nearest-rank: the value at row ceil(num·n/den) of the
        # value-sorted sample (ties on value are harmless — any row of
        # a tie run carries the same value). The rank is computed in
        # INTEGER arithmetic — ceil(q·n) on a double q diverges between
        # engines at exact-integer boundaries (DuckDB parses 0.99 as
        # exact DECIMAL, Spark as DOUBLE: ceil(0.99·100) = 99 vs 100).
        aggs.append(
            F.expr(
                f"max(CASE WHEN __vr = CAST(floor(({num} * n_sample"
                f" + {den - 1}) / {den}) AS INT) THEN __v END)"
                f" AS `{name}`"
            )
        )
    return ranked.groupBy(*group_cols).agg(*aggs)


# ---------------------------------------------------------------------------
# Streaming bottom-k sample (the quantile sketch's incremental state)
# ---------------------------------------------------------------------------


def _np_dtype_for(spark_type: str):
    """numpy dtype for a Spark numeric simpleString; the kernel is
    numeric-only (clean error otherwise)."""
    import numpy as np

    if spark_type in ("tinyint", "smallint", "int", "bigint"):
        return np.int64
    if spark_type in ("float", "double"):
        return np.float64
    raise ValueError(
        f"streaming_bottomk_sample supports numeric value columns, "
        f"got {spark_type}"
    )


def streaming_bottomk_sample(
    stream: DataFrame,
    value_col: str,
    key_col: str,
    group_cols: Sequence[str],
    k: int = 128,
    distinct_hashes: bool = False,
) -> DataFrame:
    """The bottom-k hash sample as INCREMENTAL STREAMING STATE — the
    hll_registers/cms_counters pattern completed for the quantile
    sketch. Bottom-k by a fixed hash is order-free (the k smallest
    (md5_long(key), value) pairs of a multiset don't depend on
    arrival order), so maintaining them per group across micro-batches
    reproduces the batch ``quantile_bottomk`` sample EXACTLY — the
    value column keeps its NATIVE numeric type end to end (a blanket
    double cast would silently corrupt bigints past 2^53 and change
    the (h, v) tie-break order — review-caught, r9): state is ≤ k
    (hash, value) pairs per group — bounded by k, not stream length —
    merged in one ``applyInPandasWithState`` kernel (the hashes
    themselves are computed JVM-side before the kernel).

    Emits each updated group's full current sample per trigger, tagged
    with a per-group generation counter ``__gen`` AND a within-emission
    row index ``__i`` — together a stable identity for every emitted
    row, so an at-least-once sink that holds a replayed trigger's
    duplicate emission stays foldable (the sink folds dedupe on
    (group, __gen, __i) before counting; without it a replay would
    double n_sample/n_kept — review-caught, r9, the crash-replay bug
    class). The consumer keeps each group's newest generation —
    ``quantiles_from_sample_sink`` does exactly that and folds the
    nearest-rank quantiles via the shared ``sample_quantiles``.

    ``distinct_hashes=True`` keeps the k smallest DISTINCT hashes
    instead — the KMV sketch's state (pass the counted column as BOTH
    value_col and key_col); ``kmv_from_sample_sink`` folds the sink
    into the same estimator as the batch ``kmv_distinct``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    h = md5_long(F.col(key_col).cast("string"))
    proj = stream.where(
        F.col(value_col).isNotNull() & F.col(key_col).isNotNull()
    ).select(
        *group_cols,
        h.alias("__h"),
        F.col(value_col).alias("__v"),
    )
    vtype = dict(
        (f.name, f.dataType.simpleString()) for f in proj.schema.fields
    )["__v"]
    np_v = _np_dtype_for(vtype)
    gtypes = [
        (f.name, f.dataType.simpleString())
        for f in proj.schema.fields
        if f.name in group_cols
    ]
    out_schema = (
        ", ".join(f"{n} {t}" for n, t in gtypes)
        + f", __h long, __v {vtype}, __gen long, __i int"
    )
    state_schema = f"hs array<long>, vs array<{vtype}>, gen long"

    def update(key, pdf_iter, state):
        if state.exists:
            hs, vs, gen = state.get
            h_arr = np.asarray(hs, dtype=np.int64)
            v_arr = np.asarray(vs, dtype=np_v)
        else:
            h_arr = np.empty(0, dtype=np.int64)
            v_arr = np.empty(0, dtype=np_v)
            gen = 0
        for pdf in pdf_iter:
            h_arr = np.concatenate(
                [h_arr, pdf["__h"].to_numpy(np.int64)]
            )
            v_arr = np.concatenate(
                [v_arr, pdf["__v"].to_numpy(np_v)]
            )
        if distinct_hashes:
            # KMV mode: the k smallest DISTINCT hashes (kmv_distinct's
            # (group, hash) distinct); values ride along arbitrarily
            h_arr, first = np.unique(h_arr, return_index=True)
            v_arr = v_arr[first]
            h_arr, v_arr = h_arr[:k], v_arr[:k]
        else:
            # k smallest by (h, v) WITH multiplicity — identical to
            # the batch window's (__h, __v) row_number ordering
            order = np.lexsort((v_arr, h_arr))[:k]
            h_arr, v_arr = h_arr[order], v_arr[order]
        gen += 1
        state.update((h_arr.tolist(), v_arr.tolist(), int(gen)))
        out = pd.DataFrame({"__h": h_arr, "__v": v_arr})
        for (name, _t), val in zip(gtypes, key):
            out[name] = val
        out["__gen"] = gen
        out["__i"] = np.arange(len(h_arr), dtype=np.int32)
        yield out[[n for n, _ in gtypes] + ["__h", "__v", "__gen", "__i"]]

    return proj.groupBy(*group_cols).applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )


def _latest_generation(sink: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Each group\'s newest emitted generation, exactly once per row:
    dedupe on (group, __gen, __i) FIRST — an at-least-once sink may
    hold a replayed trigger\'s duplicate emission of the same
    generation, and counting it twice would double n_sample/n_kept —
    then keep max(__gen)."""
    deduped = sink.dropDuplicates([*group_cols, "__gen", "__i"])
    w = Window.partitionBy(*group_cols)
    return deduped.withColumn("__mx", F.max("__gen").over(w)).where(
        F.col("__gen") == F.col("__mx")
    )


def quantiles_from_sample_sink(
    sink: DataFrame,
    group_cols: Sequence[str],
    qs: Sequence[tuple[str, int, int]] = (
        ("q_50", 1, 2),
        ("q_90", 9, 10),
        ("q_99", 99, 100),
    ),
) -> DataFrame:
    """Fold an update-mode ``streaming_bottomk_sample`` sink (appended
    emissions, possibly many generations per group, possibly replayed
    duplicates) into per-group nearest-rank quantiles via the shared
    ``sample_quantiles`` fold. Equals the batch ``quantile_bottomk``
    on the same data exactly."""
    return sample_quantiles(
        _latest_generation(sink, group_cols).select(*group_cols, "__v"),
        group_cols,
        qs,
    )


def _kmv_estimate_aggs(k: int) -> list[Column]:
    """The KMV (n_kept, est_distinct) aggregate pair — ONE definition
    shared by the batch ``kmv_distinct`` and the streaming sink fold
    so the two can never drift (review-caught, r9)."""
    hk = f"(CAST(max(__h) AS DOUBLE) / {HASH_SPACE!r})"
    return [
        F.expr("count(1) AS n_kept"),
        F.expr(
            f"round(CASE WHEN count(1) < {k} THEN"
            " CAST(count(1) AS DOUBLE)"
            f" ELSE ({k} - 1) / {hk} END, 4) AS est_distinct"
        ),
    ]


def kmv_from_sample_sink(
    sink: DataFrame, group_cols: Sequence[str], k: int
) -> DataFrame:
    """Fold a ``streaming_bottomk_sample(distinct_hashes=True)`` sink
    into the KMV estimate — the same estimator as the batch
    ``kmv_distinct``, so the streamed sketch equals the batch sketch
    exactly. ``k`` is REQUIRED and must be the k the sample was built
    with: a defaulted mismatch (sample k=128, fold k=64) would
    silently misestimate by ~2× (review-caught, r9)."""
    return _latest_generation(sink, group_cols).groupBy(*group_cols).agg(
        *_kmv_estimate_aggs(k)
    )
