"""Vectorized (numpy) micro-batch evaluation for NON-PENDING condition
programs — the throughput path for windowed-aggregate / truth-stat /
Kleene-combinator conditions whose every row decides instantly.

The per-row program feed (stateful._WindowedCondProgram.feed and
friends) is exact but Python-bound: ~157k rows/s per key-partition,
5-25× below the numpy run-vectorized state machines it feeds. For
programs with no lag terms (nothing ever pends — one decided value per
row, in row order), the whole micro-batch collapses to array passes:

- sliding trailing-window aggregates (GroupPattern.scala:56-93 shape)
  via prefix scans: ``count`` by index arithmetic (exact), ``sum``/
  ``avg`` by prefix-sum difference — run in int64 (bit-exact vs the
  per-row left-to-right fold) whenever every window value is integral
  and the worst-case RUNNING total stays below 2^53 (any batch
  length); integral data beyond that bound, and non-integral values
  past 2^31, demote the batch to the per-row feed (prefix DIFFERENCES
  cancel catastrophically at large float magnitudes, where the fold
  would not). The remaining float64 branch matches the fold to
  ~window·eps relative error, and a condition can only flip on a
  same-order threshold tie, which needs integral data — always the
  exact branch. ``min``/``max`` by a sparse table of np.fmin/np.maximum
  (exact, and IEEE-NaN-identical: fmin skips NaN = the batch
  NaN-sorts-greatest min, maximum propagates NaN = its max);
- truth statistics (WindowStatistic.scala:45-103) via int64 prefix
  sums over per-row contributions — always exact;
- the boolean/arithmetic expression tree via a trilean int8 / masked
  float64 evaluator mirroring stateful._eval_row's Kleene + IEEE
  rules (unary registry math runs the SAME Python functions
  element-wise, so math results are bit-identical).

Series scoping (>maxGap splits) is applied with a per-row
``last_gap_row`` index: entries originating before a row's most recent
gap are excluded from its window — exactly the per-row path's
state-reset-then-process order. State objects (the programs' ``objs``)
are read and written in the per-row layout, so a spec can take either
path on any micro-batch and the packed state stays interchangeable.

Raises VecUnsupported (from the precheck, before any state mutation)
for shapes the array engine can't mirror — string-typed operands,
out-of-order carried state — and the kernel falls back to the per-row
feed for that spec.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# per-value magnitude bound for the prefix-sum demotion test below:
# non-integral values beyond 2^31 risk catastrophic cancellation in
# prefix-sum differences (see the demotion comment at its use site).
# Distinct from _I52F (2^52), the exact-integer-in-float bound.
_I31 = float(1 << 31)

TRI_NULL = np.int8(-1)
TRI_FALSE = np.int8(0)
TRI_TRUE = np.int8(1)
# ABSENT rows (a lag term with no emission — batch present-mask false)
# still carry their RAW value for the consumers that discard the mask
# (stateful.ABSENT/_TRUE/_FALSE): encoded as raw+3 → 2=absent-null,
# 3=absent-false, 4=absent-true. Programs with no lag terms never
# emit them.
TRI_ABS_NULL = np.int8(2)
TRI_ABS_FALSE = np.int8(3)
TRI_ABS_TRUE = np.int8(4)


def tri_raw(t5: np.ndarray) -> np.ndarray:
    """5-state → raw 3-state (present mask discarded)."""
    return np.where(t5 >= 2, t5 - 3, t5).astype(np.int8)


def tri_absent(t5: np.ndarray) -> np.ndarray:
    return t5 >= 2


def tri_mark_absent(tri: np.ndarray, absent: np.ndarray) -> np.ndarray:
    """raw 3-state + absent mask → 5-state."""
    return np.where(absent, tri + 3, tri).astype(np.int8)


def col_tri(col: pd.Series) -> np.ndarray:
    """Precomputed JVM boolean column → trilean int8: NULL → TRI_NULL,
    else bool(v). The shared decode for string (column-name) cond
    sources across the batch evaluators."""
    tri = col.fillna(False).astype(bool).to_numpy().astype(np.int8)
    tri[col.isna().to_numpy()] = TRI_NULL
    return tri


class VecUnsupported(Exception):
    """This program/batch can't be evaluated vectorized — use the
    per-row feed (identical semantics, slower)."""


# --------------------------------------------------------------- expression


def static_vec_ok(node) -> bool:
    """Build-time screen: no string constants/identifiers/casts
    anywhere (string comparison rules are per-row only). Runtime
    dtypes are re-checked in precheck."""
    from tsp_spark.dsl import ast as A

    if isinstance(node, A.Assert):
        return static_vec_ok(node.inner)
    if isinstance(node, A.Constant):
        return not isinstance(node.value, str)
    if isinstance(node, A.Identifier):
        return node.dtype not in ("string", "str")
    if isinstance(node, A.Cast):
        return node.dtype != "string" and static_vec_ok(node.inner)
    if isinstance(node, A.AggregateCall):
        return static_vec_ok(node.inner)
    if isinstance(node, A.FunctionCall):
        return all(static_vec_ok(a) for a in node.args)
    if isinstance(node, A.ReducerCall):
        return all(static_vec_ok(a) for a in node.args) and (
            node.cond is None or static_vec_ok(node.cond)
        )
    return False


_I52F = float(1 << 52)
_INF = float("inf")


def precheck_expr(node, df: pd.DataFrame) -> None:
    """Raise VecUnsupported unless every Identifier under ``node`` is a
    numeric/bool pandas column of ``df`` AND every INTEGER-VALUED
    subexpression is provably inside float64's exact range. Runs
    BEFORE any state mutation.

    The per-row path computes integer expressions on exact Python
    ints; float64 rounds past 2^52 — and a per-COLUMN magnitude check
    alone does not bound intermediates (review-caught: a+b+c+d with
    four 2^52-bounded int columns double-rounds at 2^53+1). So this
    propagates a conservative |value| bound bottom-up (add: ba+bb,
    mul: ba·bb, trunc-div: ba, int cast: min(inner, saturation)) and
    demotes whenever an int-valued node's bound crosses 2^52.
    Float-valued subexpressions carry no bound — both paths evaluate
    them in float64, so rounding is identical by construction.
    Aggregate results count as int only for `count` (bounded by window
    occupancy, < 2^31 physically); sum/avg window values enter the
    per-row deque as floats, so their downstream arithmetic is float
    on BOTH paths."""
    _bound(node, df, {})


def _col_bound(name: str, df: pd.DataFrame, cache: dict) -> float:
    b = cache.get(name)
    if b is None:
        # via float64: int64's abs() overflows on INT64_MIN
        # (review-caught); the float image of any magnitude beyond
        # 2^52 still compares > 2^52 correctly
        arr = df[name].to_numpy(dtype=np.float64, na_value=np.nan)
        # mask NaNs explicitly: np.nanmax on an all-NaN slice emits a
        # warnings-module RuntimeWarning that np.errstate cannot
        # suppress (it is not an fp-error flag) — 14 per pytest run
        finite = arr[~np.isnan(arr)]
        b = float(np.max(np.abs(finite))) if len(finite) else 0.0
        cache[name] = b
    return b


def _bound(node, df: pd.DataFrame, cache: dict) -> tuple[bool, float]:
    """(is_int_valued, conservative max |value|); raises VecUnsupported
    on unsupported shapes or int bounds beyond the exact-float range."""
    from tsp_spark.dsl import ast as A

    if isinstance(node, A.Assert):
        return _bound(node.inner, df, cache)
    if isinstance(node, A.Cast):
        is_int, b = _bound(node.inner, df, cache)
        bits = {"int8": 8, "int16": 16, "int32": 32, "int64": 64}.get(
            node.dtype
        )
        if bits is None:
            if node.dtype == "boolean":
                return True, 1.0
            if node.dtype in ("float32", "float64"):
                return False, b
            raise VecUnsupported(f"cast to {node.dtype}")
        sat = float(1 << (bits - 1))
        return True, min(b, sat)
    if isinstance(node, A.AggregateCall):
        _bound(node.inner, df, cache)
        if node.kind == "count":
            return True, float(1 << 31)
        return False, _INF
    if isinstance(node, A.Constant):
        v = node.value
        if isinstance(v, str):
            raise VecUnsupported("string constant")
        return isinstance(v, (int, bool)), abs(float(v))
    if isinstance(node, A.Identifier):
        if node.name == "_":
            return False, _INF  # reducer placeholder — float64 element
        if node.name not in df.columns:
            raise VecUnsupported(f"missing column {node.name}")
        kind = df[node.name].dtype.kind
        if kind not in "iufb":
            raise VecUnsupported(f"non-numeric column {node.name}")
        if kind in "iu":
            b = _col_bound(node.name, df, cache)
            if b > _I52F:
                raise VecUnsupported(
                    f"int column {node.name} exceeds exact float range"
                )
            return True, b
        if kind == "b":
            return True, 1.0
        # float column: no exactness requirement (both paths evaluate
        # float64), but carry the ACTUAL magnitude so `x as intN`
        # chains over bounded floats aren't demoted on the saturation
        # ceiling alone
        return False, _col_bound(node.name, df, cache)
    if isinstance(node, A.FunctionCall):
        name = node.name
        parts = [_bound(a, df, cache) for a in node.args]
        if name in ("and", "or", "xor", "not") or name in (
            "gt", "ge", "lt", "le", "eq", "ne",
        ):
            return True, 1.0
        if name == "abs":
            return parts[0]
        if name in ("add", "sub", "mul", "div"):
            (ai, ab), (bi, bb) = parts
            is_int = ai and bi
            if name in ("add", "sub"):
                b = ab + bb
            elif name == "mul":
                b = ab * bb
            else:
                b = ab  # |trunc(a/b)| <= |a| for int/int; float else
            if is_int and b > _I52F:
                raise VecUnsupported(
                    f"integer {name} intermediate exceeds exact float range"
                )
            return is_int, b
        return False, _INF  # math/sigmoid — float on both paths
    if isinstance(node, A.ReducerCall):
        for a in node.args:
            _bound(a, df, cache)
        if node.cond is not None:
            _bound(node.cond, df, cache)
        return False, _INF  # reducers fold in float64 on both paths
    raise VecUnsupported(f"node {type(node).__name__}")


def _num(node, df, aggvals):
    """Numeric evaluation → (vals float64, null bool, is_int bool).
    ``is_int`` mirrors the per-row boxing: pandas int/bool columns
    arrive as native ints via to_dict, floats stay floats."""
    from tsp_spark.dsl import ast as A
    from tsp_spark.streaming.stateful import _MATH1, _safe_exp

    n = len(df)
    if isinstance(node, A.Assert):
        return _num(node.inner, df, aggvals)
    if isinstance(node, A.Constant):
        v = node.value
        if isinstance(v, bool):
            return (
                np.full(n, float(v)),
                np.zeros(n, dtype=bool),
                True,
            )
        return (
            np.full(n, float(v)),
            np.zeros(n, dtype=bool),
            isinstance(v, int),
        )
    if isinstance(node, A.Identifier):
        col = df[node.name]
        null = col.isna().to_numpy()
        vals = col.to_numpy(dtype=np.float64, na_value=np.nan).copy()
        # the batch Identifier decode (PatternCompiler._compile): a NULL
        # float-typed field is the VALUE Double.NaN, not a null — it
        # enters window aggregates and compares IEEE-false. The
        # parser/compiler default undeclared fields to float64.
        if (node.dtype or "float64") in ("float32", "float64"):
            vals[null] = np.nan
            null = np.zeros(len(vals), dtype=bool)
        else:
            vals[null] = 0.0
        return vals, null, col.dtype.kind in "iub"
    if isinstance(node, A.AggregateCall):
        vals, null, is_int = aggvals[id(node)]
        return vals, null, is_int
    if isinstance(node, A.Cast):
        vals, null, is_int = _num(node.inner, df, aggvals)
        if node.dtype == "boolean":
            # bool(v): nonzero (NaN is truthy); stays int-boxed
            return (vals != 0).astype(np.float64), null, True
        if node.dtype in ("float32", "float64"):
            # per-row casts via float() — float32 does NOT narrow
            return vals.astype(np.float64), null, False
        # integer target: JVM conversion (stateful._jvm_int) — NaN → 0,
        # int sources narrow by signed low-bits wrap. The float
        # SATURATION zone (|v| ≥ 2^31 / 2^63) demotes to the per-row
        # feed: the saturated long isn't float64-representable, so
        # bit-parity there needs exact ints (review-caught: trunc
        # passed NaN through where per-row crashed on int(nan))
        bits = {"int8": 8, "int16": 16, "int32": 32, "int64": 64}[
            node.dtype
        ]
        with np.errstate(invalid="ignore"):
            if not is_int:
                lim = 2147483648.0 if bits < 64 else 9223372036854775808.0
                if bool(np.any(~null & (np.abs(vals) >= lim))):
                    raise VecUnsupported("float→int cast saturation")
            out = np.trunc(vals)
            out = np.where(np.isnan(out), 0.0, out)
            if bits < 64:
                half, span = float(1 << (bits - 1)), float(1 << bits)
                out = np.mod(out + half, span) - half
            return out, null, True
    if isinstance(node, A.FunctionCall):
        name = node.name
        if name in ("and", "or", "xor", "not") or name in (
            "gt", "ge", "lt", "le", "eq", "ne",
        ):
            tri = _tri(node, df, aggvals)
            return (
                (tri == TRI_TRUE).astype(np.float64),
                tri == TRI_NULL,
                True,  # per-row booleans box as int-compatible
            )
        if name == "abs":
            vals, null, is_int = _num(node.args[0], df, aggvals)
            return np.abs(vals), null, is_int
        if name == "sigmoid":
            vals, null, _ = _num(node.args[0], df, aggvals)
            if len(node.args) > 1:
                kv, kn, _ = _num(node.args[1], df, aggvals)
                null = null | kn
            else:
                kv = np.ones(n)
            out = np.array(
                [
                    1.0 / (1.0 + _safe_exp(-2.0 * k * v))
                    for k, v in zip(kv, vals)
                ],
                dtype=np.float64,
            )
            return out, null, False
        if name in _MATH1:
            vals, null, _ = _num(node.args[0], df, aggvals)
            fn = _MATH1[name]
            # the SAME Python libm calls as the per-row path — results
            # bit-identical; one tight loop per math node per batch
            out = np.empty(n, dtype=np.float64)
            onull = null.copy()
            for i, v in enumerate(vals):
                if onull[i]:
                    out[i] = 0.0
                    continue
                r = fn(float(v))
                if r is None:  # defensive: no _MATH1 fn returns None
                    onull[i] = True  # since the r14 JVM-edge pinning
                    out[i] = 0.0
                else:
                    out[i] = r
            return out, onull, False
        # arithmetic
        a, an, ai = _num(node.args[0], df, aggvals)
        b, bn, bi = _num(node.args[1], df, aggvals)
        null = an | bn
        with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
            if name == "add":
                return a + b, null, ai and bi
            if name == "sub":
                return a - b, null, ai and bi
            if name == "mul":
                return a * b, null, ai and bi
            if name == "div":
                zero = b == 0
                if ai and bi:
                    # Int/Int: EXACT truncation toward zero — safe in
                    # float64 because _bound demotes any int operand
                    # beyond 2^52, where trunc(a/b) provably equals the
                    # exact Long quotient. A real zero divisor DEMOTES:
                    # its Double.toLong saturation values (±2^63) are
                    # not exactly float-representable, so the per-row
                    # path keeps bit-parity with the batch registry
                    # (r14 §20). Zeros at null positions are masked.
                    if bool(np.any(~null & zero)):
                        raise VecUnsupported(
                            "Int/Int zero divisor — exact Long "
                            "saturation on the per-row path"
                        )
                    q = np.trunc(a / np.where(zero, 1.0, b))
                    return q, null, True
                q = a / b
                # JVM double division, aligned with the batch
                # registry's _jvm_div (r14): x/0 → ±Inf by the
                # DIVIDEND's sign (NaN dividend → +Inf, copysign's
                # positive NaN), 0/0 → NaN. The old NULL/NaN-on-zero
                # convention only survived because no parity sweep had
                # ever generated a zero divisor — the batch side THREW
                # under ANSI until r14.
                jvm0 = np.where(
                    a == 0, np.nan,
                    np.where(np.isnan(a) | (a > 0), np.inf, -np.inf),
                )
                return np.where(zero, jvm0, q), null, False
    if isinstance(node, A.ReducerCall):
        # row-wise reducer, element-parallel (stateful._eval_row
        # ReducerCall semantics): per arg, include iff non-NULL and
        # the `_`-constraint holds; fold in arg order. Adding 0.0 for
        # excluded elements is bit-exact vs skipping them (acc starts
        # at 0.0; x + 0.0 == x for every float64 incl. NaN/±inf), so
        # sums match the per-row left fold exactly.
        per: list[tuple[np.ndarray, np.ndarray]] = []
        for a in node.args:
            vals, null, _ = _num(a, df, aggvals)
            inc = ~null
            if node.cond is not None:
                cdf = df.assign(**{"_": pd.Series(vals, index=df.index)})
                tri = _tri(node.cond, cdf, aggvals)
                inc = inc & (tri == TRI_TRUE)
            per.append((vals, inc))
        name = node.name
        zeros = np.zeros(n, dtype=bool)
        cnt = np.zeros(n, dtype=np.int64)
        for _v, inc in per:
            cnt += inc
        if name == "countof":
            return cnt.astype(np.float64), zeros, True
        if name in ("sumof", "avgof"):
            s = np.zeros(n, dtype=np.float64)
            for vals, inc in per:
                s = s + np.where(inc, vals, 0.0)
            if name == "sumof":
                return s, zeros, False
            with np.errstate(invalid="ignore", divide="ignore"):
                out = np.where(cnt > 0, s / np.maximum(cnt, 1), np.nan)
            return out, zeros, False
        dbl_max = 1.7976931348623157e308
        isnan = [np.isnan(v) for v, _i in per]
        if name == "minof":
            # Math.min PROPAGATES NaN (FunctionRegistry.scala:473-485)
            # — any NaN element → NaN; empty → Double.MaxValue init
            m = np.full(n, np.inf)
            has_nan = np.zeros(n, dtype=bool)
            for (v, inc), nn in zip(per, isnan):
                m = np.minimum(m, np.where(inc & ~nn, v, np.inf))
                has_nan |= inc & nn
            return (
                np.where(
                    has_nan, np.nan, np.where(cnt > 0, m, dbl_max)
                ),
                zeros,
                False,
            )
        if name == "maxof":
            m = np.full(n, -np.inf)
            has_nan = np.zeros(n, dtype=bool)
            for (v, inc), nn in zip(per, isnan):
                m = np.maximum(m, np.where(inc & ~nn, v, -np.inf))
                has_nan |= inc & nn
            return (
                np.where(
                    has_nan, np.nan, np.where(cnt > 0, m, -dbl_max)
                ),
                zeros,
                False,
            )
    raise VecUnsupported(f"node {type(node).__name__}")


def _truthy(node, df, aggvals):
    """Numeric subtree in boolean position → trilean (bool(v):
    nonzero; NaN truthy)."""
    vals, null, _ = _num(node, df, aggvals)
    tri = (vals != 0).astype(np.int8)
    tri[null] = TRI_NULL
    return tri


def _tri(node, df, aggvals) -> np.ndarray:
    """Boolean evaluation → trilean int8 (-1 NULL / 0 / 1), mirroring
    _eval_row's Kleene + IEEE comparison rules."""
    from tsp_spark.dsl import ast as A

    if isinstance(node, A.Assert):
        return _tri(node.inner, df, aggvals)
    if isinstance(node, A.FunctionCall):
        name = node.name
        if name == "not":
            a = _tri(node.args[0], df, aggvals)
            out = np.where(a == TRI_NULL, TRI_NULL, 1 - a)
            return out.astype(np.int8)
        if name in ("and", "or", "xor"):
            a = _tri(node.args[0], df, aggvals)
            b = _tri(node.args[1], df, aggvals)
            return kleene(name, a, b)
        if name in ("gt", "ge", "lt", "le", "eq", "ne"):
            a, an, _ = _num(node.args[0], df, aggvals)
            b, bn, _ = _num(node.args[1], df, aggvals)
            null = an | bn
            # IEEE: NaN compares false for everything but ne — numpy's
            # native behavior on float64
            with np.errstate(invalid="ignore"):
                if name == "gt":
                    r = a > b
                elif name == "ge":
                    r = a >= b
                elif name == "lt":
                    r = a < b
                elif name == "le":
                    r = a <= b
                elif name == "eq":
                    r = a == b
                else:
                    r = a != b
            tri = r.astype(np.int8)
            tri[null] = TRI_NULL
            return tri
    # numeric node in boolean position (e.g. a bare cast/identifier)
    return _truthy(node, df, aggvals)


def kleene(op: str, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Trilean combinator over int8 arrays — the batch registry's
    Kleene-or / Fail-propagating and/xor (registry.py)."""
    if op == "and":
        out = np.where(
            (a == TRI_FALSE) | (b == TRI_FALSE),
            TRI_FALSE,
            np.where((a == TRI_NULL) | (b == TRI_NULL), TRI_NULL, TRI_TRUE),
        )
    elif op == "or":
        out = np.where(
            (a == TRI_TRUE) | (b == TRI_TRUE),
            TRI_TRUE,
            np.where((a == TRI_NULL) | (b == TRI_NULL), TRI_NULL, TRI_FALSE),
        )
    elif op == "xor":
        out = np.where(
            (a == TRI_NULL) | (b == TRI_NULL),
            TRI_NULL,
            (a != b).astype(np.int8),
        )
    else:
        raise ValueError(op)
    return out.astype(np.int8)


# ------------------------------------------------------------- window scans


def gap_segments(gaps: np.ndarray, n: int) -> list[tuple[int, int]]:
    """Split [0, n) at gap rows. A gap at row j splits BEFORE j —
    every segment after the first is preceded by a split, and a gap
    on row 0 yields an EMPTY first segment so the split still lands
    before row 0 (the per-row feed's exact behavior)."""
    segments = []
    s0 = 0
    for c in np.flatnonzero(gaps).tolist():
        segments.append((s0, c))
        s0 = c
    segments.append((s0, n))
    return segments


def last_gap_rows(gaps: np.ndarray) -> np.ndarray:
    """Per row: index of its most recent gap row (itself included),
    -1 when the batch holds no gap at or before it. Entries
    originating before that row are outside the row's sub-series."""
    n = len(gaps)
    return np.maximum.accumulate(np.where(gaps, np.arange(n), -1))


def _entry_arrays(old_ms, old_vals, ms_arr, vals, keep):
    """Concatenate carried state entries (origin −1: before every row
    of this batch) with this batch's kept rows. Raises before any
    mutation if the carried state is ahead of the batch (out-of-order
    delivery — per-row semantics are the safe fallback)."""
    if len(old_ms) and len(ms_arr) and old_ms[-1] > ms_arr[0]:
        raise VecUnsupported("carried state newer than batch head")
    ems = np.concatenate([old_ms, ms_arr[keep]])
    evals = np.concatenate([old_vals, vals[keep]])
    eorigin = np.concatenate(
        [np.full(len(old_ms), -1, dtype=np.int64), np.flatnonzero(keep)]
    )
    return ems, evals, eorigin


def _range_minmax(evals, lo, hi, fn):
    """Range min/max over [lo, hi) via a sparse table of ``fn``
    (np.fmin → batch NaN-greatest min; np.maximum → NaN-propagating
    max). Exact — no arithmetic."""
    m = len(lo)
    out = np.full(m, np.nan)
    null = np.ones(m, dtype=bool)
    lens = hi - lo
    sel = lens > 0
    if not len(evals) or not sel.any():
        return out, null
    maxlen = int(lens.max())
    tables = [evals]
    k = 1
    while (1 << k) <= maxlen:
        prev = tables[-1]
        half = 1 << (k - 1)
        tables.append(fn(prev[:-half], prev[half:]))
        k += 1
    ls = lens[sel].astype(np.float64)
    ks = (np.frexp(ls)[1] - 1).astype(np.int64)  # floor(log2 len)
    idx = np.flatnonzero(sel)
    for kk in np.unique(ks):
        t = tables[kk]
        rows = idx[ks == kk]
        w = 1 << int(kk)
        out[rows] = fn(t[lo[rows]], t[hi[rows] - w])
    null[idx] = False
    return out, null


def _ranged_sums(vals: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Float windowed sums over index ranges [lo, hi) with BOUNDED-term
    accumulation (r14, VERDICT r13 Next #2 — the streaming sibling of
    the batch block-anchored form).

    A plain prefix-sum difference (`cumsum[hi] − cumsum[lo]`) carries
    the WHOLE BATCH's cumulative: on near-threshold drift data
    (1e6-offset values, ±1e-5 signal, 120k-row batch) it flips 5,806
    threshold comparisons vs the frame fold — the exact r13 sf1 bug
    class, measured here before this fix. Instead, anchor prefix sums
    per index-block of B = max(hi − lo) entries: any window then spans
    at most two adjacent blocks, so every sum composes from ≤ 2
    block-bounded folds (cross-block: block-(b)'s suffix + block-
    (b+1)'s prefix, additions only; same-block: one subtraction of two
    same-block prefixes). Error scales with the ~2-window block sum,
    not the batch cumulative — 0 flips on the drift data
    (tools/fuzz_window_drift.py). Empty/inverted ranges return 0.0
    (callers gate on their own count arrays)."""
    m = len(lo)
    n = len(vals)
    if n == 0 or m == 0:
        return np.zeros(m)
    lens = hi - lo
    B = max(1, int(lens.max()) if len(lens) else 1)
    nb = -(-n // B)
    padded = np.zeros(nb * B)
    padded[:n] = vals
    mat = padded.reshape(nb, B)
    # cs0[b, j] = sum of block b's first j entries (exclusive prefix)
    cs0 = np.concatenate(
        [np.zeros((nb, 1)), np.cumsum(mat, axis=1)], axis=1
    ).ravel()
    # rs[b, j] = sum of block b's entries from j to block end (suffix)
    rs = np.concatenate(
        [np.cumsum(mat[:, ::-1], axis=1)[:, ::-1], np.zeros((nb, 1))],
        axis=1,
    ).ravel()
    ok = lens > 0
    lo_c = np.where(ok, lo, 0)
    hi_c = np.where(ok, hi, 1)
    bl = lo_c // B
    bh = (hi_c - 1) // B
    lo_in = lo_c - bl * B
    hi_in = hi_c - bh * B  # 1..B (inclusive count within block bh)
    pre_hi = cs0[bh * (B + 1) + hi_in]
    pre_lo = cs0[bl * (B + 1) + lo_in]
    sfx_lo = rs[bl * (B + 1) + lo_in]
    out = np.where(bl == bh, pre_hi - pre_lo, sfx_lo + pre_hi)
    return np.where(ok, out, 0.0)


def sliding_aggregate(
    kind: str,
    window_ms: int,
    state,  # _SlidingAggState
    ms_arr: np.ndarray,
    vals: np.ndarray,
    null: np.ndarray,
    lg_rows: np.ndarray,
):
    """One windowed-aggregate term over the whole micro-batch: the
    half-open trailing frame (t−W, t], series-scoped. Mutates
    ``state.q`` to the batch-end deque (per-row layout). Returns
    (vals, null, is_int) aligned with rows."""
    old_ms = np.array([e[0] for e in state.q], dtype=np.int64)
    old_vals = np.array(
        [e[2][0] for e in state.q], dtype=np.float64
    )
    keep = ~null
    ems, evals, eorigin = _entry_arrays(old_ms, old_vals, ms_arr, vals, keep)
    n = len(ms_arr)
    hi = np.searchsorted(eorigin, np.arange(n), side="right")
    lo_t = np.searchsorted(ems, ms_arr - window_ms, side="right")
    floor = np.searchsorted(eorigin, lg_rows, side="left")
    lo = np.maximum(lo_t, floor)
    cnt = hi - lo

    if kind in ("sum", "avg"):
        isnan = np.isnan(evals)
        clean = np.where(isnan, 0.0, evals)
        with np.errstate(invalid="ignore"):
            m = float(np.max(np.abs(clean))) if len(clean) else 0.0
        integral = bool(np.all(isnan | (clean == np.floor(clean))))
        # int64 prefix sums are bit-equal to the per-row float fold
        # exactly while every RUNNING total stays below 2^53 (integral
        # float addition is exact there, and the fold's deque holds
        # floats): n·maxmag bounds that, for any batch length — the
        # old fixed len ≤ 2^20 gate left big integral batches on the
        # inexact float branch, where a threshold tie could flip
        # (review-caught)
        exact = integral and m * max(len(clean), 1) < float(1 << 53)
        if not exact and len(clean) and (m > _I31 or integral):
            # Non-integral beyond 2^31: prefix-sum DIFFERENCES cancel
            # catastrophically at large magnitudes (sum of [1e16…,
            # 1.0…] windows loses the 1.0s entirely — review-caught),
            # while the per-row fold does not. Integral beyond the
            # running-total bound: the per-row fold itself rounds, and
            # only it reproduces the reference order. Demote BEFORE
            # mutating state; the kernel restores the packed snapshot
            # on this raise. Small non-integral floats stay on the
            # float branch: ≤ 1 ulp of the fold, and a condition flip
            # needs a threshold TIE, which needs integral data.
            raise VecUnsupported("window values exceed stable sum range")

    # batch-end state: entries still inside the LAST row's window and
    # sub-series
    if n:
        final_lg = int(lg_rows[-1])
        sel = (ems > int(ms_arr[-1]) - window_ms) & (eorigin >= final_lg)
        state.q = [
            (int(m), [], [float(v)])
            for m, v in zip(ems[sel], evals[sel])
        ]

    if kind == "count":
        return cnt.astype(np.float64), np.zeros(n, dtype=bool), True
    if kind in ("min", "max"):
        fn = np.fmin if kind == "min" else np.maximum
        out, onull = _range_minmax(evals, lo, hi, fn)
        return out, onull, False
    # sum / avg
    if exact:
        p = np.concatenate([[0], np.cumsum(clean.astype(np.int64))])
        sums = (p[hi] - p[lo]).astype(np.float64)
    else:
        # block-anchored ranged sums, NOT a whole-batch prefix
        # difference — bounded-term accumulation so near-threshold
        # comparisons can't drift with batch length (r14; see
        # _ranged_sums)
        sums = _ranged_sums(clean, lo, hi)
    pn = np.concatenate([[0], np.cumsum(isnan.astype(np.int64))])
    has_nan = (pn[hi] - pn[lo]) > 0
    sums[has_nan] = np.nan
    onull = cnt == 0
    if kind == "sum":
        sums[onull] = 0.0
        return sums, onull, False
    with np.errstate(invalid="ignore", divide="ignore"):
        avg = np.where(cnt > 0, sums / np.maximum(cnt, 1), 0.0)
    return avg, onull, False


# ------------------------------------------------------------ program feeds


def windowed_precheck(prog, objs, ms_arr, df) -> None:
    precheck_expr(prog.node, df)
    for i, a in enumerate(prog.aggs):
        st = objs[i]
        if not hasattr(st, "q"):  # _Lag1State carries just `prev`
            if isinstance(getattr(st, "prev", None), str):
                raise VecUnsupported("string-valued lag state")
            continue
        q = st.q
        if q and len(ms_arr) and q[-1][0] > int(ms_arr[0]):
            raise VecUnsupported("carried state newer than batch head")
        if any(e[1] for e in q):
            raise VecUnsupported("undecided entry deps in carried state")


def windowed_batch(prog, objs, ms_arr, df, gaps, lg_rows) -> np.ndarray:
    """_WindowedCondProgram (no PENDING lag terms; plain ``lag(x)``
    allowed — a shift with series resets) over the batch → 5-state
    decided values, one per row. A row where any lag term is absent
    (series head: no previous row) is ABSENT with its raw value
    carried, exactly the per-row status=('a',) path."""
    aggvals: dict[int, tuple] = {}
    absent = None
    n = len(ms_arr)
    for i in prog._order:
        a = prog.aggs[i]
        ivals, inull, _ = _num(a.inner, df, aggvals)
        if a.kind == "lag":  # window_ms == 0 — previous row's value
            st = objs[i]
            pvals = np.empty(n, dtype=np.float64)
            pnull = np.empty(n, dtype=bool)
            if n:
                pvals[1:] = ivals[:-1]
                pnull[1:] = inull[:-1]
                if st.prev is None:
                    pvals[0], pnull[0] = 0.0, True
                else:
                    pvals[0], pnull[0] = float(st.prev), False
                # a >maxGap split clears the previous value BEFORE the
                # gap row is processed
                pnull |= gaps
                pvals[pnull] = 0.0
                st.prev = None if inull[-1] else float(ivals[-1])
            aggvals[id(a)] = (pvals, pnull, False)
            absent = pnull.copy() if absent is None else (absent | pnull)
            continue
        aggvals[id(a)] = sliding_aggregate(
            a.kind, a.window_ms, objs[i], ms_arr, ivals, inull, lg_rows
        )
    tri = _tri(prog.node, df, aggvals)
    if absent is not None and absent.any():
        return tri_mark_absent(tri, absent)
    return tri


def truthstat_precheck(prog, objs, ms_arr, df) -> None:
    if not isinstance(prog.inner, str):
        prog.inner.precheck_batch(objs[1], ms_arr, df)
    q = objs[0]
    if q and len(ms_arr) and q[-1][0] > int(ms_arr[0]):
        raise VecUnsupported("carried state newer than batch head")
    if objs[4]:
        raise VecUnsupported("pending arrival metas in carried state")


def truthstat_batch(prog, objs, ms_arr, df, gaps, lg_rows) -> np.ndarray:
    """_TruthStatProgram over the batch → trilean (0/1) decided
    values. Exact: contributions and statistics are integers."""
    n = len(ms_arr)
    if isinstance(prog.inner, str):
        # (not isna) and bool(v) — the per-row str-inner rule
        col = df[prog.inner]
        truthy = col.fillna(False).astype(bool).to_numpy()
    else:
        # batch `sum(when(c, …))` consumes the RAW value — an absent
        # row with raw true still contributes (per-row _process rule)
        t5 = prog.inner.feed_batch(objs[1], ms_arr, df, gaps, lg_rows)
        truthy = tri_raw(t5) == TRI_TRUE
    # inter-event delta, fixed at arrival; 0 at each sub-series head
    arr_prev = objs[3]
    delta = np.empty(n, dtype=np.int64)
    if n:
        delta[0] = (
            0
            if (gaps[0] or arr_prev is None)
            else int(ms_arr[0]) - int(arr_prev)
        )
        if n > 1:
            delta[1:] = np.where(gaps[1:], 0, np.diff(ms_arr))
    if prog.kind == "times":
        contrib = truthy.astype(np.int64)
    else:
        contrib = np.where(truthy, delta, 0)

    old_ms = np.array([e[0] for e in objs[0]], dtype=np.int64)
    old_c = np.array([e[1] for e in objs[0]], dtype=np.int64)
    ems, evals, eorigin = _entry_arrays(
        old_ms, old_c, ms_arr, contrib, np.ones(n, dtype=bool)
    )
    hi = np.searchsorted(eorigin, np.arange(n), side="right")
    # CLOSED window [t−W, t]
    lo_t = np.searchsorted(ems, ms_arr - prog.window_ms, side="left")
    floor = np.searchsorted(eorigin, lg_rows, side="left")
    lo = np.maximum(lo_t, floor)
    p = np.concatenate([[0], np.cumsum(evals)])
    stat = p[hi] - p[lo]

    ok = np.ones(n, dtype=bool)
    if prog.lo is not None and prog.lo > 0:
        ok &= stat >= prog.lo
    if prog.hi is not None:
        ok &= stat <= prog.hi
    if prog.exactly and n:
        # series time elapsed since the sub-series head
        s0 = objs[2]
        head = np.where(
            lg_rows >= 0,
            ms_arr[np.maximum(lg_rows, 0)],
            int(s0) if s0 is not None else int(ms_arr[0]),
        )
        ok &= (ms_arr - head) >= prog.window_ms

    if n:
        final_lg = int(lg_rows[-1])
        sel = (ems >= int(ms_arr[-1]) - prog.window_ms) & (
            eorigin >= final_lg
        )
        objs[0] = [(int(m), int(c)) for m, c in zip(ems[sel], evals[sel])]
        objs[3] = int(ms_arr[-1])
        if final_lg >= 0:
            objs[2] = int(ms_arr[final_lg])
        elif objs[2] is None:
            objs[2] = int(ms_arr[0])
    return ok.astype(np.int8)


def combo_precheck(prog, objs, ms_arr, df) -> None:
    for j, c in enumerate(prog.children):
        if not isinstance(c, str):
            c.precheck_batch(objs[j], ms_arr, df)
    if any(objs[-1]):
        raise VecUnsupported("queued child values in carried state")


def combo_batch(prog, objs, ms_arr, df, gaps, lg_rows) -> np.ndarray:
    tris = []
    for j, c in enumerate(prog.children):
        if isinstance(c, str):
            tris.append(col_tri(df[c]))
        else:
            tris.append(c.feed_batch(objs[j], ms_arr, df, gaps, lg_rows))
    # value layer on RAW values; presence recombines afterwards —
    # and/or/xor/not AND their children's presents, `until` DROPS both
    # (the per-row _combine rule)
    raws = [tri_raw(t) for t in tris]
    absent = None
    if prog.op != "until":
        for t in tris:
            a = tri_absent(t)
            absent = a if absent is None else (absent | a)
    op = prog.op
    if op == "not":
        a = raws[0]
        out = np.where(a == TRI_NULL, TRI_NULL, 1 - a).astype(np.int8)
    elif op == "until":
        left, right = raws
        nr = np.where(right == TRI_NULL, TRI_NULL, 1 - right).astype(np.int8)
        out = kleene("and", left, nr)
    else:
        out = raws[0]
        for t in raws[1:]:
            out = kleene(op, out, t)
    if absent is not None and absent.any():
        return tri_mark_absent(out, absent)
    return out


# -------------------------------------------- pending single-lag program

# decided-value objects indexed by the stateful codec's _cv codes
# (0 None, 1 False, 2 True, 3 ABSENT, 4 ABSENT_TRUE, 5 ABSENT_FALSE)
def _cv_objects():
    from tsp_spark.streaming.stateful import ABSENT, ABSENT_FALSE, ABSENT_TRUE

    return (None, False, True, ABSENT, ABSENT_TRUE, ABSENT_FALSE)


def lag_pending_precheck(prog, objs, ms_arr, df) -> None:
    """Dtype/state screen for lag_pending_batch — pure, runs before
    any state mutation."""
    precheck_expr(prog.node, df)
    st = objs[0]
    if isinstance(st.prev, str) or any(
        isinstance(v, str) for _m, v in st.q
    ):
        raise VecUnsupported("string lag state")
    # A late micro-batch starting before the carried queue's tail
    # breaks the sorted-times assumption behind the searchsorted pop
    # (the per-row feed scans linearly and diverges) — demote.
    if st.q and len(ms_arr) and st.q[-1][0] > int(ms_arr[0]):
        raise VecUnsupported("carried state newer than batch head")


def lag_pending_batch(prog, objs, ms_arr, df, gaps):
    """Micro-batch feed for a pending-capable program whose ONLY term
    is one ``lag(x, T)`` (T > 0) over a plain row expression — the
    throughput floor family (`lag(x,T) <cmp> …`). Reproduces
    _WindowedCondProgram.feed row-for-row:

    * consume-once emissions via ONE searchsorted over the entry
      times (a row pops every queued value with ms' ≤ t−T; the last
      popped is its emission);
    * the prev/bridge chain evolves only at emissions, so it
      vectorizes as a shift over the emission subsequence;
    * a non-emitted row bridges iff its prev equals the NEXT
      emission's value — decided IN-BATCH for every row before the
      segment's last emission; only the tail after it truly pends;
    * the condition evaluates ONCE per hypothesis over the whole
      segment (value assignment and lag-NULL assignment), giving the
      same decided-value vocabulary as the per-row path.

    Returns the newly decided condition values as an ``np.int8`` CODE
    array in row order (prior pending resolutions first; codes are the
    stateful codec's _cv vocabulary — see ``_cv_objects``), so the
    kernel's bulk drain never round-trips per-row Python objects
    (r8: this array contract took the family from ~0.69M to >2M
    rows/s). Mutates ``objs`` to the batch-end state —
    layout-interchangeable with the per-row feed (the small pending
    tables keep the per-row object layout).
    """
    a = prog.aggs[0]
    key = id(a)
    T = a.window_ms
    st, pending = objs
    n = len(ms_arr)
    iv, inull, _ = _num(a.inner, df, {})
    CV = _cv_objects()
    code_of = {v: i for i, v in enumerate(CV)}
    parts: list = []

    segments = gap_segments(gaps, n)
    for si, (s, e) in enumerate(segments):
        if si > 0:
            if pending:
                parts.append(
                    np.fromiter(
                        (code_of[tbl[0]] for _und, tbl in pending),
                        np.int8,
                        len(pending),
                    )
                )
            pending.clear()
            st.reset()
        if s == e:
            continue
        m = e - s
        sms = ms_arr[s:e]
        qm = ~inull[s:e]
        new_ms = sms[qm]
        new_vals = iv[s:e][qm]
        if st.q:
            ems = np.concatenate(
                [np.array([t for t, _ in st.q], dtype=np.int64), new_ms]
            )
            evals = np.concatenate(
                [
                    np.array([v for _, v in st.q], dtype=np.float64),
                    new_vals,
                ]
            )
        else:
            ems, evals = new_ms, new_vals.astype(np.float64)
        p = np.searchsorted(ems, sms - T, side="right")
        p_prev = np.concatenate([[0], p[:-1]])
        emitted = p > p_prev
        em_idx = np.flatnonzero(emitted)
        n_em = len(em_idx)
        prev0 = float(st.prev) if st.has_prev else np.nan
        has_prev0 = bool(st.has_prev)
        if n_em:
            evs = evals[p[em_idx] - 1]
            prev_seq = np.concatenate([[prev0], evs[:-1]])
            hp_seq = np.concatenate(
                [[has_prev0], np.ones(n_em - 1, dtype=bool)]
            )
            with np.errstate(invalid="ignore"):
                # Segmentizer equality is .equals (boxed Double): NaN
                # bridges with NaN (stateful._lag_eq, r6c)
                bridge = hp_seq & (
                    (prev_seq == evs) | (np.isnan(prev_seq) & np.isnan(evs))
                )
            emc = np.cumsum(emitted) - emitted  # emissions strictly before
            prev_at = np.concatenate([[prev0], evs])[emc]
            hp_at = np.concatenate(
                [[has_prev0], np.ones(n_em, dtype=bool)]
            )[emc]
        else:
            evs = np.empty(0)
            bridge = np.empty(0, dtype=bool)
            emc = np.zeros(m, dtype=np.int64)
            prev_at = np.full(m, prev0)
            hp_at = np.full(m, has_prev0)
        stat_a = ~emitted & ~hp_at
        stat_u = ~emitted & hp_at
        resolved_u = stat_u & (emc < n_em)

        # condition under both hypotheses, whole segment at once
        val_v = (
            np.where(emitted, evals[np.maximum(p, 1) - 1], prev_at)
            if len(evals)
            else prev_at
        )
        sdf = df.iloc[s:e]
        tri_v = _tri(
            prog.node, sdf, {key: (val_v, np.zeros(m, dtype=bool), False)}
        )
        tri_n = _tri(
            prog.node,
            sdf,
            {key: (np.zeros(m), np.ones(m, dtype=bool), False)},
        )
        raw_v = np.where(tri_v < 0, 0, np.where(tri_v > 0, 2, 1))
        raw_n = np.where(tri_n < 0, 0, np.where(tri_n > 0, 2, 1))
        absent_code = np.where(raw_n == 0, 3, np.where(raw_n == 2, 4, 5))

        codes = np.where(emitted, raw_v, absent_code)
        if n_em:
            br_of = bridge[np.minimum(emc, n_em - 1)]
            codes = np.where(
                resolved_u, np.where(br_of, raw_v, absent_code), codes
            )

        # first row that cannot decide within the batch
        tail_u = np.flatnonzero(stat_u & ~resolved_u)
        ft = int(tail_u[0]) if len(tail_u) else m
        if pending and n_em == 0:
            # prior pending unresolved by this segment: every row
            # queues behind it
            ft = 0
        elif pending:
            # prior pending resolves at the FIRST emission — but rows
            # of this segment BEFORE that emission decide only up to
            # it... they queue and flush together, so the emitted
            # order is still: prior entries first, then rows 0..ft
            b0 = int(bridge[0])
            parts.append(
                np.fromiter(
                    (
                        code_of[tbl[b0] if und else tbl[0]]
                        for und, tbl in pending
                    ),
                    np.int8,
                    len(pending),
                )
            )
            pending.clear()
        if ft:
            parts.append(codes[:ft].astype(np.int8))
        for j in range(ft, m):
            if stat_u[j]:
                pending.append(
                    [[0], [CV[int(absent_code[j])], CV[int(raw_v[j])]]]
                )
            else:
                pending.append([[], [CV[int(codes[j])]]])

        # batch-end term state
        p_last = int(p[-1])
        st.q = [
            (int(t), float(v)) for t, v in zip(ems[p_last:], evals[p_last:])
        ]
        if n_em:
            st.prev, st.has_prev = float(evs[-1]), True
    if not parts:
        return np.empty(0, dtype=np.int8)
    return parts[0] if len(parts) == 1 else np.concatenate(parts)


def wait_pending_precheck(prog, objs, ms_arr, df) -> None:
    """Dtype/state screen for wait_pending_batch — pure."""
    inner = prog.inner
    pend = objs[0]
    if pend and len(ms_arr) and pend[-1][0] > int(ms_arr[0]):
        # Late batch behind a carried pending row: the closed-frame
        # searchsorted assumes arrivals at/after every pending ms —
        # demote to the per-row reference feed.
        raise VecUnsupported("carried state newer than batch head")
    if objs[2]:
        # a meta backlog means the inner once decided late (pending
        # inner) — structurally impossible for the shapes this path
        # accepts, but guard anyway
        raise VecUnsupported("wait meta backlog")
    if isinstance(inner, str):
        if inner not in df.columns:
            raise VecUnsupported(f"missing column {inner}")
        return
    if not getattr(inner, "batch_capable", False):
        raise VecUnsupported("pending-capable wait inner")
    inner.precheck_batch(objs[1], ms_arr, df)


def wait_pending_batch(prog, objs, ms_arr, df, gaps) -> list:
    """Micro-batch feed for ``wait(T, X)`` with an instantly-deciding
    inner (JVM column or non-pending condition program). Mirrors
    _WaitProgram._process row-for-row:

    * a row decides TRUE at the first inner-true within its CLOSED
      leading frame [t, t+W] (one suffix-scan + searchsorted);
    * FALSE/NULL when a later arrival passes t+W (saw-nonnull decides
      which) — with sorted timestamps that is ``last_ms > t+W``;
    * resolution is provably FIFO (an unresolved row blocks nothing
      behind it from being resolvable), so the decided set is a
      prefix and the undecided tail pends with its saw flag.

    Returns decided condition values as an ``np.int8`` CODE array
    (0 None / 1 False / 2 True — the stateful codec vocabulary; wait
    never produces absent codes) in row order, prior pending first,
    and mutates ``objs`` to batch-end state. Unlike the lag family,
    resolution may cover only a PREFIX of the carried backlog (FIFO
    blocking) — the kernel's drain aligns on ``min(backlog, k)``.
    """
    W = prog.window_ms
    pend = objs[0]
    n = len(ms_arr)
    if isinstance(prog.inner, str):
        tri = col_tri(df[prog.inner])
    else:
        lg_rows = last_gap_rows(gaps)
        tri = prog.inner.feed_batch(objs[1], ms_arr, df, gaps, lg_rows)
    raw = tri_raw(tri)
    parts: list = []
    res: list[int] = []  # small: backlog resolutions in order

    for si, (s, e) in enumerate(gap_segments(gaps, n)):
        if si > 0:
            res.extend(1 if saw else 0 for _ms, saw in pend)
            pend.clear()
        if s == e:
            continue
        sms = ms_arr[s:e].astype(np.int64)
        sv = raw[s:e]
        m = e - s
        nn = sv >= 0
        istrue = sv == 1
        cnn = np.concatenate([[0], np.cumsum(nn)])
        hi = np.searchsorted(sms, sms + W, side="right") - 1
        tmp = np.where(istrue, np.arange(m), m)
        nt = np.minimum.accumulate(tmp[::-1])[::-1]
        last_ms = int(sms[-1])
        true_dec = nt <= hi
        popped = last_ms > sms + W
        saw_arr = (cnn[hi + 1] - cnn[np.arange(m)]) > 0
        decided = true_dec | popped

        blocked = False
        while pend:
            pms, saw = pend[0]
            hi_p = int(np.searchsorted(sms, pms + W, side="right"))
            any_true = bool(istrue[:hi_p].any())
            if any_true:
                res.append(2)
                pend.pop(0)
                continue
            if last_ms > pms + W:
                res.append(1 if (saw or cnn[hi_p] > 0) else 0)
                pend.pop(0)
                continue
            # unresolved: everything behind it queues too (FIFO)
            blocked = True
            break
        if blocked:
            ft = 0
            # frames of surviving prior entries span the whole segment
            if cnn[m] > 0:
                for k in range(len(pend)):
                    pend[k] = (pend[k][0], 1)
        else:
            nd = np.flatnonzero(~decided)
            ft = int(nd[0]) if len(nd) else m
        if res:
            parts.append(np.array(res, dtype=np.int8))
            res = []
        if ft:
            parts.append(
                np.where(
                    true_dec[:ft], np.int8(2),
                    np.where(saw_arr[:ft], np.int8(1), np.int8(0)),
                ).astype(np.int8)
            )
        tail_saw = (cnn[m] - cnn[ft:m]) > 0
        pend.extend(
            (int(sms[j]), int(tail_saw[j - ft])) for j in range(ft, m)
        )
    if res:
        parts.append(np.array(res, dtype=np.int8))
    if not parts:
        return np.empty(0, dtype=np.int8)
    return parts[0] if len(parts) == 1 else np.concatenate(parts)


# ------------------------------------- pending double-lag (fork) program


def _lag_eq_vec(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Vectorized stateful._lag_eq: boxed-Double equality — NaN bridges
    with NaN."""
    with np.errstate(invalid="ignore"):
        return (a == b) | (np.isnan(a) & np.isnan(b))


def fork_pending_precheck(prog, objs, ms_arr, df) -> None:
    """Dtype/state screen for fork_pending_batch — pure."""
    precheck_expr(prog.node, df)
    # string-valued carried state (raw or stream values) demotes
    for br in objs[0]:
        for o in br.objs[:-1]:
            if isinstance(getattr(o, "prev", None), str) or any(
                isinstance(v, str) for _m, v in getattr(o, "q", ())
            ):
                raise VecUnsupported("string lag state")
            if br.objs and getattr(o, "q", None) and len(ms_arr):
                if o.q and o.q[-1][0] > int(ms_arr[0]):
                    raise VecUnsupported(
                        "carried state newer than batch head"
                    )


def _fork_clean(objs) -> bool:
    """Single live branch, no open hypotheses, no buffered or pending
    rows — the state the vectorized stretch requires."""
    branches = objs[0]
    if len(branches) != 1:
        return False
    br = branches[0]
    return not br.assign and not br.buf and not br.objs[-1]


def fork_pending_batch(prog, objs, ms_arr, df, gaps):
    """Micro-batch feed for the double-pending-lag family
    (``lag(lag(x, T1), T2) <cmp> …`` — the speculative-fork shape,
    stateful.py r6c). The per-row path forks a branch per open inner
    bridge span, which priced the family at ~47k rows/s; in a BATCH
    almost every span resolves in-batch, so no fork is ever needed for
    the decided prefix:

    * inner ``lag(x, T1)``: consume-once emissions and the prev/bridge
      chain vectorize exactly like lag_pending_batch;
    * the outer's input stream = rows whose inner emitted or
      bridge-resolved TRUE (stream membership is the fork hypothesis —
      here it is decided by the inner's next in-batch emission);
    * outer ``lag(y, T2)``: the same single-lag vectorization over the
      stream subsequence (the outer pops/enqueues only at stream rows,
      so its emissions live entirely inside it);
    * a row is PRESENT iff both terms resolve to values; otherwise its
      code is the absent flavor of the condition under the resolved
      value/NULL hypothesis — the per-row truth-table vocabulary.

    Rows after the segment's decided frontier (an open inner span with
    no later inner emission, or an outer span with no later outer
    emission) feed through the REAL per-row ``prog.feed`` on the same
    state objects — branch forks live only there, and the carried
    head of the next batch drains per-row until the state is clean
    again (typically ~(T1+T2) of event time at each end). Returns
    decided condition codes (np.int8, row order, prior pending first)
    like the other pend_codes programs.
    """
    outer_a, inner_a = prog.aggs[0], prog.aggs[1]
    t1 = inner_a.window_ms
    t2 = outer_a.window_ms
    okey = id(outer_a)
    CV = _cv_objects()
    code_of = {v: i for i, v in enumerate(CV)}
    n = len(ms_arr)
    parts: list = []
    head_budget = 4096

    def feed_row(j: int) -> None:
        # ONE row via the same pandas conversion path as
        # to_dict("records") (native ints, floats stay floats): the
        # per-row feed touches only the undecided head/tail (~tens of
        # rows), so materializing the WHOLE batch as dicts here paid
        # O(batch × columns) boxing every batch for a handful of rows
        # (review-caught, r8)
        vals = prog.feed(
            objs, int(ms_arr[j]), df.iloc[[j]].to_dict("records")[0],
            bool(gaps[j]),
        )
        if vals:
            parts.append(
                np.fromiter((code_of[v] for v in vals), np.int8, len(vals))
            )

    segments = gap_segments(gaps, n)
    seg_iter = iter(segments)
    cur = next(seg_iter, None)
    i = 0
    while cur is not None:
        s, e = cur
        if i >= e:
            cur = next(seg_iter, None)
            continue
        if i < s:
            i = s
        if not _fork_clean(objs) or gaps[i]:
            # unclean state (open spans / buffered rows) or a series
            # split row: the real per-row feed handles both exactly
            head_budget -= 1
            if head_budget < 0:
                raise VecUnsupported("fork state never settled")
            feed_row(i)
            i += 1
            continue
        br = objs[0][0]
        st_i = br.objs[1]  # inner _LagTState (pre-order: outer first)
        st_o = br.objs[0]
        m = e - i
        sdf = df.iloc[i:e]
        sms = ms_arr[i:e]
        iv, inull, _ = _num(inner_a.inner, sdf, {})

        # ---- inner lag over every row ----
        qm = ~inull
        new_ms = sms[qm]
        new_vals = iv[qm]
        src_row = np.flatnonzero(qm)  # entry -> segment row that pushed it
        if st_i.q:
            ems_i = np.concatenate(
                [np.array([t for t, _ in st_i.q], dtype=np.int64), new_ms]
            )
            evals_i = np.concatenate(
                [np.array([v for _, v in st_i.q], dtype=np.float64),
                 new_vals.astype(np.float64)]
            )
            src_i = np.concatenate(
                [np.full(len(st_i.q), -1, dtype=np.int64), src_row]
            )
        else:
            ems_i, evals_i = new_ms, new_vals.astype(np.float64)
            src_i = src_row
        p_i = np.searchsorted(ems_i, sms - t1, side="right")
        pp_i = np.concatenate([[0], p_i[:-1]])
        em_i = p_i > pp_i
        em_rows_i = np.flatnonzero(em_i)
        n_em_i = len(em_rows_i)
        prev0_i = float(st_i.prev) if st_i.has_prev else np.nan
        hp0_i = bool(st_i.has_prev)
        if n_em_i:
            evs_i = evals_i[p_i[em_rows_i] - 1]
            prev_seq = np.concatenate([[prev0_i], evs_i[:-1]])
            hp_seq = np.concatenate([[hp0_i], np.ones(n_em_i - 1, bool)])
            bridge_i = hp_seq & _lag_eq_vec(prev_seq, evs_i)
            emc_i = np.cumsum(em_i) - em_i  # emissions strictly before row
            prev_at_i = np.concatenate([[prev0_i], evs_i])[emc_i]
            hp_at_i = np.concatenate([[hp0_i], np.ones(n_em_i, bool)])[emc_i]
        else:
            evs_i = np.empty(0)
            bridge_i = np.empty(0, bool)
            emc_i = np.zeros(m, dtype=np.int64)
            prev_at_i = np.full(m, prev0_i)
            hp_at_i = np.full(m, hp0_i)
        # inner statuses
        inner_u = ~em_i & hp_at_i
        res_i = inner_u & (emc_i < n_em_i)  # resolves at a later emission
        br_i = np.zeros(m, dtype=bool)
        if n_em_i:
            br_i[res_i] = bridge_i[emc_i[res_i]]
        inner_v = em_i | (res_i & br_i)
        inner_und = inner_u & ~res_i
        val_i = np.where(em_i, evals_i[np.maximum(p_i, 1) - 1] if len(evals_i) else 0.0, prev_at_i)

        # ---- outer lag over the stream subsequence ----
        stream = np.flatnonzero(inner_v)
        s_ms = sms[stream]
        s_val = val_i[stream]
        if st_o.q:
            ems_o = np.concatenate(
                [np.array([t for t, _ in st_o.q], dtype=np.int64), s_ms]
            )
            evals_o = np.concatenate(
                [np.array([v for _, v in st_o.q], dtype=np.float64),
                 s_val.astype(np.float64)]
            )
            n_carry_o = len(st_o.q)
        else:
            ems_o, evals_o = s_ms, s_val.astype(np.float64)
            n_carry_o = 0
        p_o = np.searchsorted(ems_o, s_ms - t2, side="right")
        pp_o = np.concatenate([[0], p_o[:-1]])
        em_o_s = p_o > pp_o  # per stream position
        em_pos_o = np.flatnonzero(em_o_s)
        n_em_o = len(em_pos_o)
        prev0_o = float(st_o.prev) if st_o.has_prev else np.nan
        hp0_o = bool(st_o.has_prev)
        if n_em_o:
            evs_o = evals_o[p_o[em_pos_o] - 1]
            prev_seq_o = np.concatenate([[prev0_o], evs_o[:-1]])
            hp_seq_o = np.concatenate([[hp0_o], np.ones(n_em_o - 1, bool)])
            bridge_o = hp_seq_o & _lag_eq_vec(prev_seq_o, evs_o)
        else:
            evs_o = np.empty(0)
            bridge_o = np.empty(0, bool)
        # per-ROW outer emission count at rows <= r (oc) and < r (occ)
        em_row_flags = np.zeros(m, dtype=np.int64)
        if n_em_o:
            em_row_flags[stream[em_pos_o]] = 1
        oc = np.cumsum(em_row_flags)            # emissions at rows <= r
        occ = oc - em_row_flags                 # emissions at rows <  r
        outer_emitted = em_row_flags.astype(bool)
        out_em_val = np.zeros(m)
        if n_em_o:
            out_em_val[stream[em_pos_o]] = evs_o
        prev_at_o = np.concatenate([[prev0_o], evs_o])[occ] if n_em_o else np.full(m, prev0_o)
        hp_at_o = (np.concatenate([[hp0_o], np.ones(n_em_o, bool)])[occ]
                   if n_em_o else np.full(m, hp0_o))
        outer_u = ~outer_emitted & hp_at_o
        res_o = outer_u & (oc < n_em_o)  # a strictly later outer emission
        br_o = np.zeros(m, dtype=bool)
        if n_em_o:
            br_o[res_o] = bridge_o[oc[res_o]]
        outer_und = outer_u & ~res_o
        outer_v = outer_emitted | (res_o & br_o)
        val_o = np.where(outer_emitted, out_em_val, prev_at_o)

        und = inner_und | outer_und
        first_und = np.flatnonzero(und)
        F = int(first_und[0]) if len(first_und) else m
        if F > 0:
            # ---- decided codes for rows [0, F) ----
            present = (inner_v & outer_v)[:F]
            vh = val_o[:F]
            null_mask = ~outer_v[:F]
            fdf = sdf.iloc[:F]
            tri_v = _tri(prog.node, fdf, {okey: (vh, null_mask, False)})
            raw_v = np.where(tri_v < 0, 0, np.where(tri_v > 0, 2, 1))
            absent_c = np.where(raw_v == 0, 3, np.where(raw_v == 2, 4, 5))
            parts.append(
                np.where(present, raw_v, absent_c).astype(np.int8)
            )
            # ---- frontier state (after processing row F-1) ----
            lo_i = int(sms[F - 1]) - t1
            keep_i = (ems_i > lo_i) & (src_i < F)
            st_i.q = [
                (int(t), float(v))
                for t, v in zip(ems_i[keep_i], evals_i[keep_i])
            ]
            n_em_before = int(emc_i[F - 1] + em_i[F - 1])
            if n_em_before:
                st_i.prev, st_i.has_prev = float(evs_i[n_em_before - 1]), True
            # outer: pops happen at stream rows; last stream row < F
            s_before = stream[stream < F]
            src_o = np.concatenate(
                [np.full(n_carry_o, -1, dtype=np.int64), stream]
            )
            if len(s_before):
                last_sp = len(s_before) - 1  # stream position
                lo_o_cnt = int(p_o[last_sp])
            else:
                lo_o_cnt = 0
            keep_o = (np.arange(len(ems_o)) >= lo_o_cnt) & (src_o < F)
            st_o.q = [
                (int(t), float(v))
                for t, v in zip(ems_o[keep_o], evals_o[keep_o])
            ]
            n_em_o_before = int(oc[F - 1])
            if n_em_o_before:
                st_o.prev, st_o.has_prev = float(evs_o[n_em_o_before - 1]), True
            i += F
        if i < e:
            feed_row(i)  # guaranteed progress into the per-row tail
            i += 1
    if not parts:
        return np.empty(0, dtype=np.int8)
    return parts[0] if len(parts) == 1 else np.concatenate(parts)
