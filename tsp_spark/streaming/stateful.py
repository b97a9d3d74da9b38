"""True incremental streaming pattern kernels with per-key state.

The carry-buffer mode (streaming/job.py) re-evaluates a bounded window
of history per micro-batch — simple, one code path with batch. This
module is the genuinely *incremental* alternative via
``applyInPandasWithState``, built as ONE multi-pattern kernel
(``stateful_multi``): Spark permits a single stateful operator per
streaming query, and the reference runs exactly this topology anyway —
one keyed stream fanned into N per-key pattern state machines
(PatternProcessor.scala:23-59). So N patterns cost one shuffle and one
state store, with per-pattern state encoded side by side.

Three state-machine families cover the patterns whose state is O(open
runs): islands (row-level boolean), timer (``cond for T``), and the
andThen sequence join. Windowed sub-expressions (``avg(x, T) > c``,
truth stats ``for T <op> N times`` / ``<op> T'``) run through sliding
condition *programs* (below) whose per-key state is the window's event
deque — the reference's QueueStatsCounter shape
(core/.../aggregators/GroupPattern.scala:56-93,
WindowStatistic.scala:45-103): amortized O(1) queue maintenance per
event, state bounded by window occupancy, never the stream length, and
series-scoped like every batch window (a >maxGap split clears it).
Aggregates are recomputed from the deque (left-to-right, the batch
window-frame order) rather than via running add/subtract accumulators,
so streamed values are bit-identical to the batch plan — the
reference's running-sum trade (FP drift for O(1) math) is documented
here but not taken, because the oracle harness compares exact values.
Cost boundary (r12 note): this recompute is O(window occupancy) per
event, but it only runs on the PER-ROW PENDING path — patterns mixing
windowed aggregates WITH undecided lag terms, where each deque entry
carries a 2^k hypothesis table that no incremental accumulator can
subtract from. Lag-free windowed aggregates take the vectorized path
(vectorized.py: prefix sums + a sparse-table range min/max — O(n log n)
per micro-batch), and a long-window-plus-lag stream can run carry mode
(streaming/job.py), whose micro-batch is a batch evaluation and
inherits the batch engine's O(n) prefix/two-block forms.
``lag`` (PreviousValue.scala:42-73) runs in-kernel via DELAYED
resolution: the batch compiler's forward-looking equal-value bridge
needs the NEXT emission, but both candidate outcomes of a non-emitted
row (bridged-to-previous-emission vs absent) are known at the row, so
the row pends as a 2^k truth table over its undecided lag terms and
resolves at the next emission, a series split, or state timeout.
Pattern state machines then consume conditions through per-spec
row/cond queues that advance strictly in row order.

State encoding: each machine serializes to a list[int] (epoch millis
and indices; -1 encodes None; doubles bit-cast to int64), one
ArrayType(LongType) struct field per pattern carrying
``[len(sm_state)] + sm_state + cond program states`` — no raw history
beyond open windows is ever retained.
"""

from __future__ import annotations

import copy
import math
import re
import struct as _struct
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

_NONE = -1

# Test hook: force every spec onto the per-row feed path (the
# vectorized and per-row paths share state layout, so flipping this
# between micro-batches is safe — tests/test_vectorized_kernel.py
# compares the two end to end).
_FORCE_SLOW = False

# Packed per-spec state version word (leading element of every p_i
# array): bump whenever the serialized layout changes so a streaming
# restart from an incompatible checkpoint fails loudly in
# _unpack_state instead of misdecoding. v2 = r6 (ABSENT_TRUE/FALSE
# cond codes + sliding-agg entry dep tables).
_STATE_VERSION = 0x7453_0003  # r6c: _AndThenSM last-visible idx; fork branches


# Sentinel: the pattern emitted NO value at this row (lag present mask
# false). The batch compiler DROPS such rows before islandization
# (_islandize filters on `present`), so downstream they are INVISIBLE —
# true runs merge across them — which is different from a false
# condition (closes the run). Programs return it; the kernel skips the
# row for island specs, per side for andThen chains, and maps it to
# false inside Timer/ForWithInterval (whose batch compilation discards
# the present mask, leaving null → false). A STRING compared with `==`,
# not an object compared with `is`: the kernel closure crosses a
# cloudpickle boundary into the Python workers, where an object
# sentinel deserializes to a different instance and identity checks
# silently fail (bool/None never == a str, so equality is exact).
ABSENT = "__tsp_absent__"
# An absent row whose RAW column value is true/false (not NULL): the
# batch keeps presence as a SEPARATE mask from the value column, and
# only standalone islandization (and per-element chain islandization)
# filters on it — Timer, `for T op N times`, wait and until consume the
# raw column with the mask discarded. For direct lag terms raw == NULL
# at absent rows so plain ABSENT sufficed; a windowed aggregate OVER a
# lag has a non-NULL raw value at rows where the lag is absent, so the
# decided-value vocabulary must carry both bits.
ABSENT_TRUE = "__tsp_absent_true__"
ABSENT_FALSE = "__tsp_absent_false__"
_ABSENTS = (ABSENT, ABSENT_TRUE, ABSENT_FALSE)


def _is_absent(v) -> bool:
    return isinstance(v, str) and v in _ABSENTS


def _raw(v):
    """Decided value → the batch's raw column value (present mask
    discarded): True/False/None."""
    if isinstance(v, str):
        if v == ABSENT:
            return None
        if v == ABSENT_TRUE:
            return True
        if v == ABSENT_FALSE:
            return False
    return v


def _absent_of(raw):
    """Absent row with the given raw value → decided-value symbol."""
    if raw is None:
        return ABSENT
    return ABSENT_TRUE if raw else ABSENT_FALSE


def _cv_enc(v) -> int:
    if isinstance(v, str):
        return {ABSENT: 3, ABSENT_TRUE: 4, ABSENT_FALSE: 5}[v]
    return {None: 0, False: 1, True: 2}[None if v is None else bool(v)]


def _cv_dec(x: int):
    return (None, False, True, ABSENT, ABSENT_TRUE, ABSENT_FALSE)[x]


def _enc(v):
    return _NONE if v is None else int(v)


def _dec(v):
    return None if v == _NONE else int(v)


def _fbits(v: float) -> int:
    """Bit-cast double → int64 (lossless state encoding for floats)."""
    return _struct.unpack(">q", _struct.pack(">d", float(v)))[0]


def _bitsf(b: int) -> float:
    return _struct.unpack(">d", _struct.pack(">q", int(b)))[0]


def _venc(v) -> list[int]:
    """Tagged value encoding for lag state: numeric values bit-cast to
    one int64 (tag 0); strings as UTF-8 length + signed 8-byte chunks
    (tag 1) — lag over string columns must round-trip values exactly
    through the ArrayType(LongType) state store."""
    if isinstance(v, str):
        b = v.encode("utf-8")
        out = [1, len(b)]
        for i in range(0, len(b), 8):
            out.append(int.from_bytes(b[i : i + 8].ljust(8, b"\0"), "big", signed=True))
        return out
    return [0, _fbits(v)]


def _vdec(st: list[int], pos: int):
    if st[pos] == 0:
        return _bitsf(st[pos + 1]), pos + 2
    n = st[pos + 1]
    pos += 2
    nb = (n + 7) // 8
    raw = b"".join(
        int(st[pos + i]).to_bytes(8, "big", signed=True) for i in range(nb)
    )[:n]
    return raw.decode("utf-8"), pos + nb


def _lagv(v):
    """Lag queue entry: strings kept verbatim, everything else as the
    batch plan's double."""
    return v if isinstance(v, str) else float(v)


def _is_nan(v) -> bool:
    return isinstance(v, float) and math.isnan(v)


def _lag_eq(a, b) -> bool:
    """Segmentizer merge equality (SegmentizerPattern.scala uses
    ``.equals``, i.e. boxed java.lang.Double semantics): NaN EQUALS
    NaN, so NaN emissions merge/bridge like any other value (r6c,
    oracle-caught via nested lags — for a single lag the bridged row's
    condition always matches its neighbors', so it was unobservable)."""
    return a == b or (_is_nan(a) and _is_nan(b))


class _IslandSM:
    """SimplePattern RLE: one open run of true cond per key."""

    n_conds = 1

    def init(self) -> list[int]:
        return [_NONE, _NONE, 0]  # run_start, last, n_rows

    def step(self, st, ms, conds, gap_split):
        run_start, last, n = _dec(st[0]), _dec(st[1]), st[2]
        closed = []
        cond = conds[0]
        if run_start is not None and (gap_split or not cond):
            closed.append((run_start, last, n))
            run_start, n = None, 0
        if cond and run_start is None:
            run_start, n = ms, 0
        if run_start is not None:
            n += 1
        return [_enc(run_start), _enc(ms), n], closed

    def flush(self, st):
        run_start, last, n = _dec(st[0]), _dec(st[1]), st[2]
        return [(run_start, last, n)] if run_start is not None else []

    def split(self, st):
        """Close the old sub-series without consuming a row — delivered
        the moment a gap-flagged row reaches the queue head, even when
        that row's own cond is still pending."""
        return self.init(), self.flush(st)


class _TimerSM:
    """TimerPattern ``cond for T``: the open run plus its qualifying
    suffix (first event held ≥ window)."""

    n_conds = 1

    def __init__(self, window_ms: int):
        self.window_ms = window_ms

    def init(self) -> list[int]:
        return [_NONE, _NONE, _NONE, 0]  # run_start, hold_start, last, n

    def step(self, st, ms, conds, gap_split):
        run_start, hold_start, last, n = (
            _dec(st[0]), _dec(st[1]), _dec(st[2]), st[3],
        )
        closed = []
        cond = conds[0]
        if run_start is not None and (gap_split or not cond):
            if hold_start is not None:
                closed.append((hold_start, last, n))
            run_start, hold_start, n = None, None, 0
        if cond and run_start is None:
            run_start = ms
        if run_start is not None and ms - run_start >= self.window_ms:
            if hold_start is None:
                hold_start, n = ms, 0
            n += 1
        return [_enc(run_start), _enc(hold_start), _enc(ms), n], closed

    def flush(self, st):
        _rs, hold_start, last, n = _dec(st[0]), _dec(st[1]), _dec(st[2]), st[3]
        return [(hold_start, last, n)] if hold_start is not None else []

    def split(self, st):
        return self.init(), self.flush(st)


class _AndThenSM:
    """AndThen sequence-join chain (AndThenPattern.scala:69-88 via
    ops/sequence.py), generalized to the left-associative n-condition
    chain ``c0 andThen c1 andThen … andThen c(n−1)`` exactly as the
    batch compiler folds it: stage j sequence-joins the interval table
    produced by stages < j with the closed runs of cond j.

    Per stage, left intervals pair 1:1 with the earliest closed right
    run satisfying ``r_si <= l_ei + 1 AND r_ei >= l_si`` within one
    gap-delimited sub-series; a split resets everything. Pending
    entries are pruned the moment no future counterpart can match;
    consumed right runs stay as tombstones so a later left interval
    whose earliest satisfying run was taken stays unmatched — the batch
    double row_number pairing. A matched pair forwards
    ``(l_si, max(l_ei, r_ei), l_from, r_to)`` to the next stage
    (and_then_intervals' output columns); the last stage emits.

    An ABSENT cond makes the row INVISIBLE to that side only (the batch
    _islandize drops a side's present-masked rows before islandization
    while the shared raw index still counts every row): the side's open
    run neither closes nor extends, and closures use the side's own
    last-VISIBLE-row timestamp AND index rather than the global
    previous row (r6c: the index half — ``lvi`` — was missing, so a
    run closing after a tail of absent rows claimed indices it never
    covered and stole matches that belonged to a later run; caught by
    nested-lag chain parity, seed 31).

    State layout: [next_idx, open0_si, open0_from, last0, lvi0,
                   per stage j=1..n−1: (open_si, open_from, last_j,
                   lvi_j, n_l, n_r, l 4-tuples…, r 5-tuples…)]
    """

    def __init__(self, n_conds: int = 2):
        self.n_conds = n_conds

    def init(self) -> list[int]:
        out = [1, _NONE, _NONE, _NONE, _NONE]
        for _ in range(self.n_conds - 1):
            out.extend((_NONE, _NONE, _NONE, _NONE, 0, 0))
        return out

    def _unpack(self, st):
        next_idx = st[0]
        open0 = (st[1], st[2]) if st[1] != _NONE else None
        last0 = _dec(st[3])
        lvi0 = st[4]
        pos = 5
        stages = []
        for _ in range(self.n_conds - 1):
            op = (st[pos], st[pos + 1]) if st[pos] != _NONE else None
            lastj = _dec(st[pos + 2])
            lvij = st[pos + 3]
            n_l, n_r = st[pos + 4], st[pos + 5]
            pos += 6
            pend_l = [tuple(st[pos + 4 * i : pos + 4 * i + 4]) for i in range(n_l)]
            pos += 4 * n_l
            pend_r = [tuple(st[pos + 5 * i : pos + 5 * i + 5]) for i in range(n_r)]
            pos += 5 * n_r
            stages.append([op, lastj, lvij, pend_l, pend_r])
        return next_idx, open0, last0, lvi0, stages

    @staticmethod
    def _pack(next_idx, open0, last0, lvi0, stages):
        st = [
            next_idx,
            open0[0] if open0 else _NONE,
            open0[1] if open0 else _NONE,
            _enc(last0),
            lvi0,
        ]
        for op, lastj, lvij, pend_l, pend_r in stages:
            st.extend(
                (
                    op[0] if op else _NONE,
                    op[1] if op else _NONE,
                    _enc(lastj),
                    lvij,
                    len(pend_l),
                    len(pend_r),
                )
            )
            for a in pend_l:
                st.extend(a)
            for b in pend_r:
                st.extend(b)
        return [int(x) for x in st]

    @staticmethod
    def _match(pend_l, pend_r, fwd):
        out_l = []
        for a in pend_l:
            l_si, l_ei, l_from, _l_to = a
            hit = next(
                (b for b in pend_r if b[0] <= l_ei + 1 and b[1] >= l_si), None
            )
            if hit is None:
                out_l.append(a)  # earliest satisfying run not closed yet
            elif not hit[4]:
                fwd.append((l_si, max(l_ei, hit[1]), l_from, hit[3]))
                pend_r[pend_r.index(hit)] = (*hit[:4], 1)
            # else: earliest satisfying run already consumed → left dead
        return out_l

    def _cascade(self, next_idx, open0, last0, lvi0, stages, idx, ms, conds):
        """One row through every stage; returns (open0, last0, lvi0,
        matches). A side's ABSENT cond skips that side entirely
        (invisible row): no close, no extend, no lvi/last update."""
        fwd: list[tuple] = []
        c0 = conds[0]
        if c0 != ABSENT:
            if open0 and not c0:
                fwd.append((open0[0], lvi0, open0[1], last0))
                open0 = None
            if c0 and not open0:
                open0 = (idx, ms)
            last0 = ms
            lvi0 = idx
        # floor of any FUTURE left interval si arriving at stage j+1:
        # stage 0's open run (else the next unseen index), then the min
        # over earlier stages' still-pending lefts (their matches keep
        # the left si)
        fl = open0[0] if open0 else next_idx
        for j, stage in enumerate(stages):
            op, lastj, lvij, pend_l, pend_r = stage
            cj = conds[j + 1]
            if cj != ABSENT:
                if op and not cj:
                    pend_r.append((op[0], lvij, op[1], lastj, 0))
                    op = None
                if cj and not op:
                    op = (idx, ms)
                lastj = ms
                lvij = idx
            pend_l.extend(fwd)
            fwd = []
            pend_l = self._match(pend_l, pend_r, fwd)
            # prune: the earliest future right run starts at op.si (if
            # open) else >= next_idx; a right run (tombstone or not)
            # whose ei precedes every possible future left si is dead
            r_floor = op[0] if op else next_idx
            pend_l = [a for a in pend_l if a[1] + 1 >= r_floor]
            pend_r[:] = [b for b in pend_r if b[1] >= fl]
            fl = min([a[0] for a in pend_l] + [fl])
            stage[0], stage[1], stage[2], stage[3] = op, lastj, lvij, pend_l
        return open0, last0, lvi0, fwd

    def step(self, st, ms, conds, gap_split, last):
        next_idx, open0, last0, lvi0, stages = self._unpack(st)
        matched: list[tuple] = []
        if gap_split:
            # close every open run at the split and match one last time
            _, _, _, final = self._cascade(
                next_idx, open0, last0, lvi0, stages, next_idx, ms,
                [False] * self.n_conds,
            )
            matched.extend((f, t_, None) for _si, _ei, f, t_ in final)
            next_idx, open0, last0, lvi0 = 1, None, None, _NONE
            stages = [
                [None, None, _NONE, [], []] for _ in range(self.n_conds - 1)
            ]
        idx = next_idx
        next_idx += 1
        open0, last0, lvi0, final = self._cascade(
            next_idx, open0, last0, lvi0, stages, idx, ms, conds
        )
        matched.extend((f, t_, None) for _si, _ei, f, t_ in final)
        return self._pack(next_idx, open0, last0, lvi0, stages), matched

    def flush(self, st, last):
        next_idx, open0, last0, lvi0, stages = self._unpack(st)
        _, _, _, final = self._cascade(
            next_idx, open0, last0, lvi0, stages, next_idx, ms=0,
            conds=[False] * self.n_conds,
        )
        return [(f, t_, None) for _si, _ei, f, t_ in final]

    def split(self, st):
        return self.init(), self.flush(st, None)


# ------------------------------------------------- windowed cond programs


_CMP_FNS = {"gt", "ge", "lt", "le", "eq", "ne"}
_ARITH_FNS = {"add", "sub", "mul", "div"}
_BOOL_FNS = {"and", "or", "xor", "not"}
_AGG_KINDS = {"avg", "sum", "count", "min", "max"}


def _safe_exp(x: float) -> float:
    try:
        return math.exp(x)
    except OverflowError:
        return float("inf")


def _cot(x: float) -> float:
    # JVM 1.0 / tan(x): tan(±0.0) is ±0.0, so the reciprocal is the
    # matching signed infinity (r14, docs/SEMANTICS.md §20 — the batch
    # registry's raw division used to THROW under ANSI here)
    t = math.tan(x)
    return math.copysign(math.inf, t) if t == 0.0 else 1.0 / t


def _jvm_ln(x: float, base10: bool = False) -> float:
    # JVM Math.log/log10 edges (r14 §20): ±0 → -Inf, negative → NaN,
    # NaN → NaN, +Inf → +Inf (the old mirror returned NULL for any
    # non-positive input, following Spark's log — Result.fail where the
    # reference extension documents JVM math)
    if math.isnan(x):
        return math.nan
    if x == 0:
        return -math.inf
    if x < 0:
        return math.nan
    if math.isinf(x):
        return math.inf
    return math.log10(x) if base10 else math.log(x)


# unary math mirroring the batch registry's Spark columns (registry.py
# default_registry): JVM libm edges throughout (r14 §20) — cot(±0) is
# ±Inf, ln/log of ±0 is -Inf and of a negative is NaN, sqrt of a
# negative is NaN, exp saturates to inf
_MATH1 = {
    "sin": math.sin,
    "cos": math.cos,
    "tan": math.tan,
    "tg": math.tan,
    "cot": _cot,
    "ctg": _cot,
    "sind": lambda x: math.sin(math.radians(x)),
    "cosd": lambda x: math.cos(math.radians(x)),
    "tand": lambda x: math.tan(math.radians(x)),
    "tgd": lambda x: math.tan(math.radians(x)),
    "cotd": lambda x: _cot(math.radians(x)),
    "ctgd": lambda x: _cot(math.radians(x)),
    "exp": _safe_exp,
    "ln": _jvm_ln,
    "log": lambda x: _jvm_ln(x, base10=True),
    "sqrt": lambda x: float("nan") if x < 0 else math.sqrt(x),
}


def _wrap64(x: int) -> int:
    """Scala Long arithmetic wraps on overflow (r14 §20)."""
    return (x + (1 << 63)) % (1 << 64) - (1 << 63)


def _jvm_abs(v):
    """Math.abs with the Long.MIN fixed point for int-boxed values."""
    return _wrap64(abs(v)) if isinstance(v, int) else abs(v)


def _jvm_arith(name: str, a, b):
    """JVM arithmetic shared by BOTH per-row paths (r14 §20, aligned
    with the batch registry): Long add/sub/mul WRAP mod 2^64; Long
    division is EXACT truncation toward zero (Long.MIN / -1 wraps, JLS
    15.17.2) — the earlier float-mediated `int(a / b)` lost exactness
    above 2^53; /0 keeps the engine's pinned Double.toLong saturation.
    Doubles follow registry._jvm_div (x/0 → ±Inf by the dividend's
    sign, 0/0 → NaN)."""
    both_int = isinstance(a, int) and isinstance(b, int)
    if name == "add":
        return _wrap64(a + b) if both_int else a + b
    if name == "sub":
        return _wrap64(a - b) if both_int else a - b
    if name == "mul":
        return _wrap64(a * b) if both_int else a * b
    # div
    if both_int:
        if b == 0:
            return 0 if a == 0 else ((1 << 63) - 1 if a > 0 else -(1 << 63))
        q = abs(a) // abs(b)
        if (a < 0) != (b < 0):
            q = -q
        return _wrap64(q)
    fa = float(a)
    if b == 0:
        if fa == 0:
            return float("nan")
        return float("inf") if (math.isnan(fa) or fa > 0) else float("-inf")
    return a / b

_EVAL_FNS = (
    _CMP_FNS | _ARITH_FNS | _BOOL_FNS | set(_MATH1) | {"abs", "sigmoid"}
)
# lag (PreviousValue.scala:42-73) is supported via DELAYED resolution:
# the batch compiler's forward-looking equal-value bridge (a non-emitted
# row inherits the previous emission's value iff the NEXT emission
# equals it) can't be decided at the row — but the two possible
# outcomes CAN: the bridge value is always the previous emission, known
# at the row. So a row whose lag term has no emission pends as a tiny
# truth table over {bridged, absent}, resolved at the next emission
# (equal → bridged), a >maxGap split, or state timeout (→ absent, the
# batch null next_v). Pending rows are bounded by the events between
# two consecutive emissions — window occupancy, never stream length.
_LAG_KIND = "lag"


def _contains(node, types) -> bool:
    """Does a node of ``types`` appear anywhere under ``node``? Generic
    dataclass walk — used for routing only (never raises)."""
    import dataclasses

    from tsp_spark.dsl import ast as A

    if isinstance(node, types):
        return True
    if not dataclasses.is_dataclass(node):
        return False
    for f in dataclasses.fields(node):
        v = getattr(node, f.name)
        for x in v if isinstance(v, tuple) else (v,):
            if isinstance(x, A.Node) and _contains(x, types):
                return True
    return False


def _validate_kernel_expr(node) -> None:
    """Build-time guard: every node under a windowed boolean must be a
    shape _eval_row can evaluate, so an unsupported function fails at
    routing time (toward the carry-buffer mode) instead of killing the
    streaming query on its first row."""
    from tsp_spark.dsl import ast as A

    if isinstance(node, (A.Assert, A.Cast)):
        _validate_kernel_expr(node.inner)
        return
    if isinstance(node, (A.Constant, A.Identifier)):
        return
    if isinstance(node, A.AggregateCall):
        _validate_kernel_expr(node.inner)
        return
    if isinstance(node, A.FunctionCall):
        if node.name not in _EVAL_FNS:
            raise ValueError(
                f"function '{node.name}' inside a windowed boolean is "
                f"not supported by the incremental kernel — use the "
                f"carry-buffer streaming mode (streaming/job.py)"
            )
        for a in node.args:
            _validate_kernel_expr(a)
        return
    if isinstance(node, A.ReducerCall):
        for a in node.args:
            _validate_kernel_expr(a)
        if node.cond is not None:
            _validate_kernel_expr(node.cond)
        return
    raise ValueError(
        f"{type(node).__name__} inside a windowed boolean is not "
        f"supported by the incremental kernel — use the carry-buffer "
        f"streaming mode (streaming/job.py)"
    )


def _collect_direct_lags(node) -> list:
    """Lag-kind AggregateCall nodes whose ABSENCE makes the expression
    absent: descent stops at LAG boundaries (a deeper lag speaks only
    through its enclosing lag's status) but continues through non-lag
    aggregates — a GroupPattern emits only at ITS inner's stream rows,
    so its presence is its inner's presence."""
    from tsp_spark.dsl import ast as A

    out = []

    def walk(n):
        if isinstance(n, A.AggregateCall):
            if n.kind == "lag":
                out.append(n)
            else:
                walk(n.inner)
            return
        if isinstance(n, A.FunctionCall):
            for a in n.args:
                walk(a)
        elif isinstance(n, (A.Cast, A.Assert)):
            walk(n.inner)
        elif isinstance(n, A.ReducerCall):
            for a in n.args:
                walk(a)
            if n.cond is not None:
                walk(n.cond)

    walk(node)
    return out


def _collect_aggs(node) -> list:
    """All AggregateCall nodes in pre-order (stable extraction order —
    the state layout depends on it)."""
    from tsp_spark.dsl import ast as A

    out = []

    def walk(n):
        if isinstance(n, A.AggregateCall):
            out.append(n)
            walk(n.inner)
        elif isinstance(n, A.FunctionCall):
            for a in n.args:
                walk(a)
        elif isinstance(n, (A.Cast, A.Assert)):
            walk(n.inner)
        elif isinstance(n, A.ReducerCall):
            for a in n.args:
                walk(a)
            if n.cond is not None:
                walk(n.cond)
        elif isinstance(n, (A.Constant, A.Identifier)):
            pass
        else:
            raise ValueError(
                f"{type(n).__name__} inside a windowed boolean is not "
                f"supported by the incremental kernel — use the "
                f"carry-buffer streaming mode (streaming/job.py)"
            )

    walk(node)
    return out


_INT_CAST_BITS = {"int8": 8, "int16": 16, "int32": 32, "int64": 64}


def _jvm_int(v, dtype: str) -> int:
    """JVM numeric conversion for `x as intN`, matching the batch
    compiler's _jvm_cast and the reference's decodeToInt `d.toInt`
    (BasicDecoders.scala:89-91): NaN → 0, float sources SATURATE (to
    int32 for sub-64-bit targets, like (int)d) then truncate toward
    zero, int sources NARROW by signed low-bits wrap. Plain int()
    raised ValueError on NaN — one path crashed where the others
    didn't (review-caught)."""
    bits = _INT_CAST_BITS[dtype]
    if isinstance(v, float):
        if v != v:  # NaN
            n = 0
        elif bits == 64:
            if v >= 9223372036854775807.0:
                return 9223372036854775807
            elif v <= -9223372036854775808.0:
                return -9223372036854775808
            else:
                n = int(v)
        elif v >= 2147483647.0:
            n = 2147483647
        elif v <= -2147483648.0:
            n = -2147483648
        else:
            n = int(v)
    else:
        n = int(v)
    half, span = 1 << (bits - 1), 1 << bits
    return (n + half) % span - half


def _compile_eval(node):
    """Compile a row-level/windowed boolean AST into a nested-closure
    evaluator ``fn(row, aggvals)`` — branch-for-branch the same
    semantics as :func:`_eval_row` (the readable reference
    implementation, kept for tests), but with the isinstance dispatch,
    name lookups, and ast-module import paid ONCE at build time
    instead of per row × per hypothesis. AggregateCall lookups capture
    ``id(node)`` of the exact term instance, so compiled closures are
    tied to their pattern's node objects (callers cache per program,
    never across programs)."""
    from tsp_spark.dsl import ast as A

    if isinstance(node, A.Assert):
        return _compile_eval(node.inner)
    if isinstance(node, A.Constant):
        v = node.value
        return lambda row, aggvals: v
    if isinstance(node, A.Identifier):
        name = node.name
        dtype = node.dtype or "float64"
        isna = pd.isna
        if dtype in ("float32", "float64"):
            nan = float("nan")

            def f_ident(row, aggvals):
                v = row[name]
                return nan if isna(v) else v

        elif dtype == "string":

            def f_ident(row, aggvals):
                v = row[name]
                return "[NULL]" if isna(v) else v

        else:

            def f_ident(row, aggvals):
                v = row[name]
                return None if isna(v) else v

        return f_ident
    if isinstance(node, A.Cast):
        fi = _compile_eval(node.inner)
        dtype = node.dtype
        if dtype == "boolean":
            conv = bool
        elif dtype in ("float32", "float64"):
            conv = float
        elif dtype == "string":
            conv = str
        else:

            def conv(v, _dt=dtype):
                return _jvm_int(v, _dt)

        def f_cast(row, aggvals):
            v = fi(row, aggvals)
            return None if v is None else conv(v)

        return f_cast
    if isinstance(node, A.AggregateCall):
        key = id(node)
        return lambda row, aggvals: aggvals[key]
    if isinstance(node, A.ReducerCall):
        arg_fns = [_compile_eval(a) for a in node.args]
        cond_fn = None if node.cond is None else _compile_eval(node.cond)
        name = node.name

        def f_reduce(row, aggvals):
            vals = []
            for fa in arg_fns:
                v = _reducer_cast(fa(row, aggvals))
                if v is None:
                    continue
                if cond_fn is not None:
                    cv = cond_fn(_URow(row, v), aggvals)
                    if cv is None or not bool(cv):
                        continue
                vals.append(v)
            return _fold_reducer(name, vals)

        return f_reduce
    if isinstance(node, A.FunctionCall):
        name = node.name
        fns = [_compile_eval(a) for a in node.args]
        if name == "not":
            f0 = fns[0]

            def f_not(row, aggvals):
                v = f0(row, aggvals)
                return None if v is None else not bool(v)

            return f_not
        if name in _MATH1:
            f0, mf = fns[0], _MATH1[name]

            def f_math(row, aggvals):
                v = f0(row, aggvals)
                return None if v is None else mf(float(v))

            return f_math
        if name == "abs":
            f0 = fns[0]

            def f_abs(row, aggvals):
                v = f0(row, aggvals)
                return None if v is None else _jvm_abs(v)

            return f_abs
        if name == "sigmoid":
            f0 = fns[0]
            f1 = fns[1] if len(fns) > 1 else None

            def f_sig(row, aggvals):
                v = f0(row, aggvals)
                k = 1.0 if f1 is None else f1(row, aggvals)
                if v is None or k is None:
                    return None
                return 1.0 / (1.0 + _safe_exp(-2.0 * float(k) * float(v)))

            return f_sig
        fa = fns[0]
        fb = fns[1] if len(fns) > 1 else None
        if name in _BOOL_FNS:

            def f_bool(row, aggvals):
                a = fa(row, aggvals)
                b = fb(row, aggvals) if fb is not None else None
                av = None if a is None else bool(a)
                bv = None if b is None else bool(b)
                if name == "and":
                    if av is False or bv is False:
                        return False
                    return None if av is None or bv is None else True
                if name == "or":
                    if av is True or bv is True:
                        return True
                    return None if av is None or bv is None else False
                return None if av is None or bv is None else av != bv

            return f_bool
        if name in _CMP_FNS:

            def f_cmp(row, aggvals):
                a = fa(row, aggvals)
                b = fb(row, aggvals)
                if a is None or b is None:
                    return None
                if isinstance(a, str) != isinstance(b, str):
                    try:
                        a = float(a) if isinstance(a, str) else a
                        b = float(b) if isinstance(b, str) else b
                    except ValueError:
                        return None
                if isinstance(a, str):
                    return {
                        "gt": a > b, "ge": a >= b, "lt": a < b,
                        "le": a <= b, "eq": a == b, "ne": a != b,
                    }[name]
                fa_, fb_ = float(a), float(b)
                if math.isnan(fa_) or math.isnan(fb_):
                    return name == "ne"
                return {
                    "gt": fa_ > fb_, "ge": fa_ >= fb_, "lt": fa_ < fb_,
                    "le": fa_ <= fb_, "eq": fa_ == fb_, "ne": fa_ != fb_,
                }[name]

            return f_cmp
        if name in _ARITH_FNS:

            def f_arith(row, aggvals):
                a = fa(row, aggvals)
                b = fb(row, aggvals)
                if a is None or b is None:
                    return None
                return _jvm_arith(name, a, b)

            return f_arith
        raise ValueError(
            f"function '{name}' inside a windowed boolean is not "
            f"supported by the incremental kernel"
        )
    raise ValueError(
        f"{type(node).__name__} inside a windowed boolean is not "
        f"supported by the incremental kernel"
    )


# Spark's string→double grammar (UTF8String/parseDouble: probed against
# try_cast on this Spark build, pinned by test_reducer_cast_matches_spark):
# optional fFdD suffix on numerics, hex floats REQUIRE a p-exponent,
# inf/infinity/nan words are case-insensitive, nan takes no sign.
_SPARK_TRIM = "".join(map(chr, range(0x21)))  # Java String.trim: <= U+0020
_DEC_FLOAT = re.compile(r"[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?[fFdD]?$")
_HEX_FLOAT = re.compile(
    r"([+-]?0[xX](?:[0-9a-fA-F]+\.?[0-9a-fA-F]*|\.[0-9a-fA-F]+)"
    r"[pP][+-]?\d+)[fFdD]?$"
)


def _reducer_cast(v):
    """One reducer argument → double, batch-compiler style
    (compiler._compile_reducer wraps every arg in ``.try_cast("double")``):
    a non-numeric string — including the "[NULL]" sentinel a NULL
    string field evaluates to — casts to NULL and is dropped from the
    fold instead of raising. String parsing follows Spark's cast
    grammar exactly, NOT Python ``float()`` (which rejects ``1.5d`` /
    hex-float forms Spark accepts, and accepts ``1_000`` digit
    separators / unicode digits / signed nan Spark rejects) —
    review-caught kernel/batch parity gap."""
    if v is None:
        return None
    if isinstance(v, str):
        if not v.isascii():
            return None
        s = v.strip(_SPARK_TRIM)
        low = s.lower()
        if low == "nan":
            return float("nan")
        word = low[1:] if low[:1] in "+-" else low
        if word in ("inf", "infinity"):
            return float("-inf") if low[0] == "-" else float("inf")
        m = _HEX_FLOAT.fullmatch(s)
        if m is not None:
            return float.fromhex(m.group(1))
        if _DEC_FLOAT.fullmatch(s) is None:
            return None
        return float(s.rstrip("fFdD"))
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def _fold_reducer(name, vals):
    """Fold the filtered element list (ReducePattern semantics, see
    compiler.rowwise_reduce): typed init values on empty input; min
    and max both fold JVM Math.min/Math.max, which PROPAGATE NaN
    (FunctionRegistry.scala:473-500 — review-caught: min previously
    mirrored Spark's NaN-skipping array_min). Shared by the compiled
    closures (_compile_eval) and the interpreter (_eval_row); the
    numpy path (vectorized._num) is element-parallel and legitimately
    separate."""
    if name == "countof":
        return len(vals)
    if name in ("sumof", "avgof"):
        s = 0.0
        for v in vals:
            s += v
        if name == "sumof":
            return s
        return s / len(vals) if vals else float("nan")
    dbl_max = 1.7976931348623157e308
    if name == "minof":
        if any(math.isnan(v) for v in vals):
            return float("nan")
        return min(vals) if vals else dbl_max
    if name == "maxof":
        if any(math.isnan(v) for v in vals):
            return float("nan")
        return max(vals) if vals else -dbl_max
    raise ValueError(f"unknown reducer '{name}'")


class _URow:
    """Row view binding the reducer placeholder ``_`` to one element
    value while delegating every other field lookup."""

    __slots__ = ("_row", "_u")

    def __init__(self, row, u):
        self._row = row
        self._u = u

    def __getitem__(self, k):
        if k == "_":
            return self._u
        return self._row[k]


def _eval_row(node, row, aggvals):
    """Kleene evaluation of a row-level/windowed boolean AST. ``aggvals``
    maps id(AggregateCall) → current window value. Mirrors the batch
    column semantics: None propagates through arithmetic/comparisons;
    IEEE NaN compares false (ne true); and/or are three-valued."""
    from tsp_spark.dsl import ast as A

    if isinstance(node, A.Assert):
        return _eval_row(node.inner, row, aggvals)
    if isinstance(node, A.Constant):
        return node.value
    if isinstance(node, A.Identifier):
        v = row[node.name]
        if pd.isna(v):
            # the batch Identifier DECODE (compiler.py:267-276,
            # BasicDecoders.scala:17-30): a NULL float-typed field is
            # Double.NaN — a VALUE that enters window aggregates
            # (poisoning sum/avg, counted by count, NaN-greatest for
            # min/max) and compares IEEE-false; a NULL string is
            # "[NULL]"; other dtypes stay NULL. The parser defaults
            # undeclared fields to float64 exactly like the compiler.
            dtype = node.dtype or "float64"
            if dtype in ("float32", "float64"):
                return float("nan")
            if dtype == "string":
                return "[NULL]"
            return None
        return v
    if isinstance(node, A.Cast):
        v = _eval_row(node.inner, row, aggvals)
        if v is None:
            return None
        if node.dtype == "boolean":
            return bool(v)
        if node.dtype in ("float32", "float64"):
            return float(v)
        if node.dtype == "string":
            return str(v)
        return _jvm_int(v, node.dtype)
    if isinstance(node, A.AggregateCall):
        return aggvals[id(node)]
    if isinstance(node, A.ReducerCall):
        # row-wise N-ary reducer (compiler.rowwise_reduce semantics,
        # ReducePattern.scala:60): args cast to double, NULLs dropped,
        # optional `_`-constraint filter (null/false drops the
        # element), fold from the typed init value. min/max mirror
        # Spark's array_min/array_max NaN-greatest total order.
        vals: list[float] = []
        for a in node.args:
            v = _reducer_cast(_eval_row(a, row, aggvals))
            if v is None:
                continue
            if node.cond is not None:
                cv = _eval_row(node.cond, _URow(row, v), aggvals)
                if cv is None or not bool(cv):
                    continue
            vals.append(v)
        return _fold_reducer(node.name, vals)
    if isinstance(node, A.FunctionCall):
        name = node.name
        if name == "not":
            v = _eval_row(node.args[0], row, aggvals)
            return None if v is None else not bool(v)
        if name in _MATH1:
            v = _eval_row(node.args[0], row, aggvals)
            return None if v is None else _MATH1[name](float(v))
        if name == "abs":
            v = _eval_row(node.args[0], row, aggvals)
            return None if v is None else _jvm_abs(v)
        if name == "sigmoid":
            v = _eval_row(node.args[0], row, aggvals)
            k = (
                _eval_row(node.args[1], row, aggvals)
                if len(node.args) > 1
                else 1.0
            )
            if v is None or k is None:
                return None
            return 1.0 / (1.0 + _safe_exp(-2.0 * float(k) * float(v)))
        a = _eval_row(node.args[0], row, aggvals)
        b = _eval_row(node.args[1], row, aggvals) if len(node.args) > 1 else None
        if name in _BOOL_FNS:
            av = None if a is None else bool(a)
            bv = None if b is None else bool(b)
            if name == "and":
                if av is False or bv is False:
                    return False
                return None if av is None or bv is None else True
            if name == "or":
                if av is True or bv is True:
                    return True
                return None if av is None or bv is None else False
            return None if av is None or bv is None else av != bv  # xor
        if a is None or b is None:
            return None
        if name in _CMP_FNS:
            # Mirror registry._cmp: the float()/NaN path applies only to
            # numeric operands; strings compare natively (Spark's UTF8
            # binary order == Python's codepoint order for the DSL's
            # ASCII values). A mixed string/number comparison follows
            # Spark's implicit coercion — the string side casts to
            # double, a non-numeric string becomes NULL.
            if isinstance(a, str) != isinstance(b, str):
                try:
                    a = float(a) if isinstance(a, str) else a
                    b = float(b) if isinstance(b, str) else b
                except ValueError:
                    return None
            if isinstance(a, str):
                return {
                    "gt": a > b, "ge": a >= b, "lt": a < b,
                    "le": a <= b, "eq": a == b, "ne": a != b,
                }[name]
            fa, fb = float(a), float(b)
            if math.isnan(fa) or math.isnan(fb):
                return name == "ne"
            return {
                "gt": fa > fb, "ge": fa >= fb, "lt": fa < fb,
                "le": fa <= fb, "eq": fa == fb, "ne": fa != fb,
            }[name]
        if name in _ARITH_FNS:
            return _jvm_arith(name, a, b)
        raise ValueError(
            f"function '{name}' inside a windowed boolean is not "
            f"supported by the incremental kernel"
        )
    raise ValueError(f"unsupported node {type(node).__name__}")


def _slice_table(deps: list[int], table: list, ti: int, outcome: int):
    """Fix undecided term ``ti``'s hypothesis bit in a 2^len(deps)
    value table: drop the bit, keep the ``outcome`` slice. Shared by
    pending-row truth tables and sliding-window entry tables."""
    p = deps.index(ti)
    new_table = []
    for m in range(1 << (len(deps) - 1)):
        low = m & ((1 << p) - 1)
        high = (m >> p) << (p + 1)
        new_table.append(table[high | (outcome << p) | low])
    deps.pop(p)
    return new_table


class _SlidingAggState:
    """Mutable per-key state for ONE AggregateCall term: the deque of
    (ms, deps, table) entries currently inside the trailing window.
    ``deps`` lists the lag terms (pre-order indices, ascending) whose
    bridge decision was still open when the entry's row arrived; the
    2^len(deps) ``table`` holds the entry's inner value under every
    hypothesis over those bits (bit=1: the lag bridges with its
    candidate; bit=0: it resolves absent, which NULLs any DIRECT
    reference but not a nested aggregate's value). None = the inner is
    NULL under that hypothesis — skipped by the window aggregate, the
    batch frame-aggregate's NULL rule. Plain aggregates always carry
    deps=() and a 1-entry table. Lives as a plain object for the
    duration of one micro-batch; (de)serializes to ints."""

    __slots__ = ("q",)

    def __init__(self):
        self.q: list[tuple[int, list[int], list]] = []

    def reset(self):
        self.q.clear()

    def resolve(self, ti: int, bridge: bool) -> None:
        """Lag term ``ti`` emitted: collapse every awaiting entry's
        table to the decided slice; entries whose table is all-NULL
        afterwards are dead weight and drop."""
        keep = []
        for ms, deps, table in self.q:
            if ti in deps:
                table = _slice_table(deps, table, ti, int(bridge))
            if any(v is not None for v in table):
                keep.append((ms, deps, table))
        self.q = keep

    def encode(self) -> list[int]:
        out = [len(self.q)]
        for ms, deps, table in self.q:
            out.extend((ms, len(deps)))
            out.extend(deps)
            for v in table:
                out.extend((0, 0) if v is None else (1, _fbits(v)))
        return out

    @classmethod
    def decode(cls, st: list[int], pos: int) -> tuple["_SlidingAggState", int]:
        obj = cls()
        n = st[pos]
        pos += 1
        for _ in range(n):
            ms, k = st[pos], st[pos + 1]
            pos += 2
            deps = list(st[pos : pos + k])
            pos += k
            table = []
            for _ in range(1 << k):
                table.append(_bitsf(st[pos + 1]) if st[pos] else None)
                pos += 2
            obj.q.append((ms, deps, table))
        return obj, pos


class _Lag1State:
    """PreviousValue with the 1-event window (``lag(x)``): the previous
    row's inner value, None when absent/Fail (PreviousValue.scala:57 —
    the queue drops Fail entries without emitting). ``last_emit`` —
    maintained only for DEP-BEARING lag1 terms (an outer lag over a
    masked inner) — is the value of the last emission: the Segmentizer
    bridge candidate for rows the term does not process (r6c)."""

    __slots__ = ("prev", "last_emit")

    def __init__(self):
        self.prev: float | str | None = None
        self.last_emit: float | str | None = None

    def reset(self):
        self.prev = None
        self.last_emit = None

    def bridge_candidate(self):
        return self.last_emit

    def encode(self) -> list[int]:
        out = [0] if self.prev is None else [1, *_venc(self.prev)]
        out += [0] if self.last_emit is None else [1, *_venc(self.last_emit)]
        return out

    @classmethod
    def decode(cls, st: list[int], pos: int) -> tuple["_Lag1State", int]:
        obj = cls()
        if st[pos]:
            obj.prev, pos = _vdec(st, pos + 1)
        else:
            pos += 1
        if st[pos]:
            obj.last_emit, pos = _vdec(st, pos + 1)
        else:
            pos += 1
        return obj, pos


class _LagTState:
    """``lag(x, T)`` consume-once state (PreviousValue.scala:42-73): the
    queue of values not yet emitted (ms > now − T) plus the previous
    emission — the bridge candidate for rows pending resolution."""

    __slots__ = ("q", "prev", "has_prev")

    def __init__(self):
        self.q: list[tuple[int, float | str]] = []
        self.prev: float | str = 0.0
        self.has_prev: bool = False

    def reset(self):
        self.q.clear()
        self.prev, self.has_prev = 0.0, False

    def bridge_candidate(self):
        return self.prev

    def encode(self) -> list[int]:
        out = [1 if self.has_prev else 0, *_venc(self.prev), len(self.q)]
        for ms, v in self.q:
            out.append(ms)
            out.extend(_venc(v))
        return out

    @classmethod
    def decode(cls, st: list[int], pos: int) -> tuple["_LagTState", int]:
        obj = cls()
        obj.has_prev = bool(st[pos])
        obj.prev, pos = _vdec(st, pos + 1)
        n = st[pos]
        pos += 1
        for _ in range(n):
            ms = st[pos]
            v, pos = _vdec(st, pos + 1)
            obj.q.append((ms, v))
        return obj, pos


class _Branch:
    """One speculative universe of a forked _WindowedCondProgram:
    ``assign`` fixes a bridge hypothesis (True = bridges with its
    candidate, False = resolves absent) for each OPEN nested-lag span;
    ``objs`` is this universe's full term-state + pending list;
    ``buf`` holds its decided condition values not yet agreed across
    all live branches (and therefore not yet emitted)."""

    __slots__ = ("assign", "objs", "buf")

    def __init__(self, assign: dict, objs: list, buf: list):
        self.assign = assign
        self.objs = objs
        self.buf = buf


class _WindowedCondProgram:
    """Boolean condition containing windowed aggregate and/or lag terms,
    evaluated incrementally per event (GroupPattern.scala:56-93
    accumulator shape): avg/sum/count/min/max(x, T) over the half-open
    trailing window (t−W, t] — the batch compiler's `_w_range(W−1)`
    frame — with values recomputed from the deque in event order so
    they're bit-identical to the batch plan. Windows are SERIES-scoped
    like every batch window (partitionBy(keys, series)): a >maxGap
    split clears the deques, mirroring the reference's per-sub-series
    state reset (PatternProcessor.scala:33-56).

    ``lag(x, T)`` (PreviousValue.scala:42-73) makes the program
    PENDING-CAPABLE (``can_pend``): a row whose lag frame
    (t_prev−T, t−T] holds no value is non-emitted, and the batch
    compiler's SegmentizerPattern bridge gives it the previous
    emission's value iff the NEXT emission equals it. The next emission
    isn't known yet, but both candidate outcomes are, so the row pends
    as a truth table over its undecided lag terms and resolves at the
    next emission / series split / timeout. ``feed`` therefore returns
    the list of NEWLY DECIDED condition values (possibly empty, possibly
    covering several older rows), in row order.

    Config-only object; per-key state is passed in/out explicitly as
    ``[term states…, pending rows]``.
    """

    def __init__(self, node):
        self.node = node
        _validate_kernel_expr(node)
        self.aggs = _collect_aggs(node)
        idx_of = {id(a): i for i, a in enumerate(self.aggs)}
        # _deps[i]: indices of the lag terms anywhere in term i's inner
        # subtree (transitive) — the bits an entry's value table spans.
        # _sub[i]: ALL term indices in the subtree (lag + aggregates) —
        # what _eval_row of term i's inner will look up.
        self._deps: list[tuple[int, ...]] = []
        self._sub: list[tuple[int, ...]] = []
        for a in self.aggs:
            self._sub.append(
                tuple(idx_of[id(x)] for x in _collect_aggs(a.inner))
            )
            if a.kind not in _AGG_KINDS and a.kind != _LAG_KIND:
                raise ValueError(
                    f"windowed aggregate '{a.kind}' is not supported by "
                    f"the incremental kernel — use the carry-buffer "
                    f"streaming mode (streaming/job.py)"
                )
            inner_lags = [
                ia for ia in _collect_aggs(a.inner) if ia.kind == _LAG_KIND
            ]
            self._deps.append(tuple(idx_of[id(ia)] for ia in inner_lags))
        # _direct[i]: lag terms the term's inner expression references
        # at its TOP layer — ONLY their absence skips the row for term
        # i (a deeper lag speaks through its enclosing term's status)
        self._direct: list[tuple[int, ...]] = [
            tuple(idx_of[id(x)] for x in _collect_direct_lags(a.inner))
            for a in self.aggs
        ]
        # FORK TERMS (r6c — the last grammar boundary closed): a pending
        # lag nested inside ANOTHER lag's lookback makes the outer
        # queue's stored values hypothesis-dependent, which per-row
        # truth tables can't express (the hypothesis leaks into STATE
        # EVOLUTION, not just row outcomes). Those inner terms run
        # SPECULATIVELY instead: while such a term's bridge is
        # undecided, the program state forks into one branch per
        # hypothesis (bridge / absent), rows feed every branch, only
        # the branch-agreed prefix of decided values emits, and the
        # term's next emission (or series split / timeout, both
        # resolving absent) picks the surviving branch. Matches the
        # reference's compositional PreviousValue-over-PreviousValue
        # (ASTPatternGenerator.scala builds the chain; each inner
        # pattern's delayed IdxValue emission is exactly the branch
        # join). Fork width ≤ 2^(#nested pending lags), live only
        # while a bridge span is open.
        self._fork_terms: tuple[int, ...] = tuple(
            sorted(
                {
                    idx_of[id(ia)]
                    for a in self.aggs
                    if a.kind == _LAG_KIND
                    for ia in _collect_aggs(a.inner)
                    if ia.kind == _LAG_KIND
                    # 'u'-capable: pending window, or a dep-bearing
                    # lag1 (its skip rows pend on its own bridge)
                    and (
                        ia.window_ms > 0
                        or self._deps[idx_of[id(ia)]]
                    )
                }
            )
        )
        self.has_fork = bool(self._fork_terms)
        # pending-capable: a lag with a lookback window, OR a
        # dep-bearing lag1 — its skip rows (inner absent) go 'u' on the
        # lag's OWN bridge (r6c stream-membership semantics), so rows
        # can leave a micro-batch undecided even with window_ms == 0.
        # _buffered() keys off this flag to serialize the spec-level
        # row/cond queues; under-reporting it would drop queued rows at
        # state-pack time and desync the row/cond pairing across
        # micro-batches (review-caught).
        self.can_pend = any(
            a.kind == _LAG_KIND
            and (a.window_ms > 0 or self._deps[i])
            for i, a in enumerate(self.aggs)
        )
        # no PENDING lag (window > 0) → every row decides instantly
        # and the whole micro-batch vectorizes (streaming/vectorized.py);
        # plain ``lag(x)`` is a shift with series resets. can_absent:
        # any lag term makes series-head rows ABSENT (present-masked),
        # which island specs consume by dropping the rows.
        # any lag OVER another lag consumes a sub-stream (inner-absent
        # rows are skipped entirely, incl. prev/t_prev state) — the
        # vectorized shift-based evaluation can't express mid-stream
        # skips, so nested-lag shapes stay per-row
        self._nested_lag = any(
            self._deps[i]
            for i, a in enumerate(self.aggs)
            if a.kind == _LAG_KIND
        )
        if not self.can_pend:
            from tsp_spark.streaming.vectorized import static_vec_ok

            self.batch_capable = static_vec_ok(node) and not self._nested_lag
            self.pend_batch_capable = False
        else:
            from tsp_spark.streaming.vectorized import static_vec_ok

            self.batch_capable = False
            # single pending-lag family (`lag(x,T) <cmp> …`): emissions
            # and the prev/bridge chain vectorize over the micro-batch
            # (vectorized.lag_pending_batch); only the post-last-
            # emission tail truly pends
            self.pend_batch_capable = (
                len(self.aggs) == 1
                and self.aggs[0].kind == _LAG_KIND
                and self.aggs[0].window_ms > 0
                and static_vec_ok(node)
            )
            # double-pending-lag family (`lag(lag(x,T1),T2) <cmp> …`,
            # the speculative-fork shape): the decided prefix
            # vectorizes with NO forks — in a batch the inner's bridge
            # spans resolve at its next in-batch emission, so stream
            # membership is known and the outer is a second single-lag
            # pass over the stream subsequence
            # (vectorized.fork_pending_batch); only the undecided tail
            # (and a carried unclean head) runs the per-row fork path.
            self._fork2 = (
                self.has_fork
                and len(self.aggs) == 2
                and self.aggs[0].kind == _LAG_KIND
                and self.aggs[1].kind == _LAG_KIND
                and self.aggs[0].window_ms > 0
                and self.aggs[1].window_ms > 0
                and self.aggs[0].inner is self.aggs[1]
                and not self._deps[1]
                and static_vec_ok(node)
            )
            if self._fork2:
                self.pend_batch_capable = True
        # the bulk feed returns an int8 CODE array (no per-row Python
        # objects) — the kernel's drain stays numpy end to end
        self.pend_codes = self.pend_batch_capable
        self.can_absent = any(a.kind == _LAG_KIND for a in self.aggs)
        # nested aggregates (avg(avg(x, T1), T2) …): _collect_aggs is
        # pre-order (parents first), so reversed order evaluates every
        # nested term before the term that consumes its value — the
        # batch plan's window-over-windowed-column composition. State
        # layout keeps pre-order.
        self._order = list(range(len(self.aggs)))[::-1]

    def _fns(self):
        """Closure-compiled evaluators (semantics == _eval_row): the
        isinstance dispatch is paid once per PROCESS, not per
        row×hypothesis. Compiled lazily and never pickled — the
        AggregateCall lookups capture ``id(term)``, which changes when
        the program crosses the cloudpickle boundary into a Spark
        Python worker, so each process compiles against its own node
        identities."""
        c = self.__dict__.get("_fns_cache")
        if c is None:
            c = (
                _compile_eval(self.node),
                [_compile_eval(a.inner) for a in self.aggs],
            )
            self.__dict__["_fns_cache"] = c
        return c

    def __getstate__(self):
        d = self.__dict__.copy()
        d.pop("_fns_cache", None)
        return d

    def _mk_state(self, a):
        if a.kind != _LAG_KIND:
            return _SlidingAggState()
        return _Lag1State() if a.window_ms == 0 else _LagTState()

    # -- state ------------------------------------------------------------
    def _u_load(self, st: list[int], pos: int) -> tuple[list, int]:
        objs = []
        for a in self.aggs:
            cls = type(self._mk_state(a))
            obj, pos = cls.decode(st, pos)
            objs.append(obj)
        pending = []
        n = st[pos]
        pos += 1
        for _ in range(n):
            k = st[pos]
            und = list(st[pos + 1 : pos + 1 + k])
            pos += 1 + k
            table = [_cv_dec(x) for x in st[pos : pos + (1 << k)]]
            pos += 1 << k
            pending.append([und, table])
        objs.append(pending)
        return objs, pos

    def _u_init(self) -> list:
        return [self._mk_state(a) for a in self.aggs] + [[]]

    @staticmethod
    def _u_dump(objs: list) -> list[int]:
        out: list[int] = []
        for o in objs[:-1]:
            out.extend(o.encode())
        pending = objs[-1]
        out.append(len(pending))
        for und, table in pending:
            out.append(len(und))
            out.extend(und)
            out.extend(_cv_enc(v) for v in table)
        return out

    # fork-capable programs wrap the universe state in a branch list
    # (objs == [[_Branch, …]]); everything else keeps the flat layout
    # byte-identical to r6b (no checkpoint migration: the fork shape
    # previously couldn't build a kernel spec at all)
    def load(self, st: list[int], pos: int) -> tuple[list, int]:
        if not self.has_fork:
            return self._u_load(st, pos)
        nb = st[pos]
        pos += 1
        branches = []
        for _ in range(nb):
            na = st[pos]
            pos += 1
            assign = {}
            for _ in range(na):
                assign[st[pos]] = bool(st[pos + 1])
                pos += 2
            nbuf = st[pos]
            pos += 1
            buf = [_cv_dec(x) for x in st[pos : pos + nbuf]]
            pos += nbuf
            uobjs, pos = self._u_load(st, pos)
            branches.append(_Branch(assign, uobjs, buf))
        return [branches], pos

    def init(self) -> list:
        if not self.has_fork:
            return self._u_init()
        return [[_Branch({}, self._u_init(), [])]]

    def dump(self, objs: list) -> list[int]:
        if not self.has_fork:
            return self._u_dump(objs)
        branches = objs[0]
        out = [len(branches)]
        for br in branches:
            out.append(len(br.assign))
            for j, b in sorted(br.assign.items()):
                out.extend((j, int(b)))
            out.append(len(br.buf))
            out.extend(_cv_enc(v) for v in br.buf)
            out.extend(self._u_dump(br.objs))
        return out

    # -- evaluation -------------------------------------------------------
    @staticmethod
    def _resolve(pending: list, ti: int, bridge: bool) -> None:
        """Fix lag term ``ti``'s outcome in every pending row's table."""
        for entry in pending:
            und, table = entry
            if ti in und:
                entry[1] = _slice_table(und, table, ti, int(bridge))

    def _u_split(self, objs: list) -> list:
        """Series split: unresolved bridges get the batch's null next_v
        (windows are series-scoped) → absent; term state resets."""
        out = self._u_drain(objs)
        for o in objs[:-1]:
            o.reset()
        return out

    def split(self, objs: list) -> list:
        if not self.has_fork:
            return self._u_split(objs)
        out = self._join_all_false(objs)
        out.extend(self._u_split(objs[0][0].objs))
        return out

    def _join_all_false(self, objs: list) -> list:
        """Every open span ends with NO next emission (series split /
        timeout): each speculated bridge resolves absent (bit False).
        The all-False branch survives — it exists by construction:
        forks always split a branch into BOTH values of a bit, and a
        real resolution kills exactly the mismatching half. Returns
        the survivor's now-agreed buffer."""
        branches = objs[0]
        br = next(b for b in branches if not any(b.assign.values()))
        br.assign.clear()
        objs[0] = [br]
        out = br.buf
        br.buf = []
        return out

    def _flush_agreed(self, branches: list) -> list:
        """Emit the prefix of decided values every live branch agrees
        on (decided values are strictly row-ordered in each branch, so
        position k is the same row in all of them)."""
        if len(branches) == 1:
            out = branches[0].buf
            branches[0].buf = []
            return out
        n = min(len(b.buf) for b in branches)
        k = 0
        while k < n:
            c0 = _cv_enc(branches[0].buf[k])
            if any(_cv_enc(b.buf[k]) != c0 for b in branches[1:]):
                break
            k += 1
        out = branches[0].buf[:k]
        for b in branches:
            del b.buf[:k]
        return out

    def _pred_status(self, j: int, assign: dict, objs: list, ms: int) -> str:
        """Branch-local PRE-ROW prediction of lag term j's status
        category: 'v' | 'a' | 'u' | 'u?'. Exact — emissions depend only
        on pre-row state and ``ms``; skip classification depends on dep
        statuses, themselves predictable or branch-assigned. 'u?' means
        j's fate hinges on a deeper unassigned fork term that must fork
        first (the trigger loop scans innermost-first and re-runs)."""
        if assign and j in assign:
            return "v" if assign[j] else "a"
        a = self.aggs[j]
        o = objs[j]
        for d in self._direct[j]:
            ds = self._pred_status(d, assign, objs, ms)
            if ds in ("u", "u?"):
                return "u?"
            if ds == "a":
                has_cand = (
                    o.has_prev
                    if a.window_ms > 0
                    else o.bridge_candidate() is not None
                )
                return "u" if has_cand else "a"
        if a.window_ms == 0:
            if o.prev is not None:
                return "v"
            if self._deps[j] and o.last_emit is not None:
                return "u"
            return "a"
        if o.q and o.q[0][0] <= ms - a.window_ms:
            return "v"
        return "u" if o.has_prev else "a"

    def _av_for(
        self, mask: int, sub: list[int], terms: tuple[int, ...],
        status: dict, valtabs: dict, objs: list,
    ) -> dict:
        """Hypothesis evaluation environment: map id(term node) → value
        for every term in ``terms``, under hypothesis ``mask`` over the
        undecided lag terms listed in ``sub`` (bit=1: the lag bridges
        with its candidate; bit=0: it resolves absent → raw NULL).
        Aggregate terms contribute their window value under the same
        hypothesis (their undecided deps are always a subset of
        ``sub``)."""
        av: dict[int, object] = {}
        for j in terms:
            a = self.aggs[j]
            if a.kind == _LAG_KIND:
                st = status[j]
                if st[0] == "v":
                    av[id(a)] = st[1]
                elif st[0] == "a":
                    av[id(a)] = None
                else:  # undecided
                    bit = (mask >> sub.index(j)) & 1
                    av[id(a)] = objs[j].bridge_candidate() if bit else None
            else:
                u, tab = valtabs[j]
                m = 0
                for b, t in enumerate(u):
                    if (mask >> sub.index(t)) & 1:
                        m |= 1 << b
                av[id(a)] = tab[m]
        return av

    def feed(self, objs: list, ms: int, row, gap_split: bool) -> list:
        if not self.has_fork:
            return self._feed_one(objs, ms, row, gap_split, None, None)
        out: list = []
        if gap_split:
            # open spans end at the split with no next emission →
            # every speculated bridge resolves absent; single branch
            out.extend(self._join_all_false(objs))
        else:
            # pre-row trigger: a fork term about to go undecided in a
            # branch splits that branch into both hypotheses BEFORE
            # the row touches state. Innermost-first (descending
            # pre-order index): a chained term's fate can hinge on a
            # deeper term's bit ('u?'), which resolves once the deeper
            # term has forked — loop to a fixpoint.
            fork_desc = sorted(self._fork_terms, reverse=True)
            branches = objs[0]
            while True:
                split_at = None
                for bi, br in enumerate(branches):
                    for j in fork_desc:
                        if j in br.assign:
                            continue
                        if (
                            self._pred_status(j, br.assign, br.objs, ms)
                            == "u"
                        ):
                            split_at = (bi, j)
                            break
                    if split_at:
                        break
                if not split_at:
                    break
                bi, j = split_at
                br = branches[bi]
                hi = _Branch(
                    dict(br.assign), copy.deepcopy(br.objs), list(br.buf)
                )
                br.assign[j] = False
                hi.assign[j] = True
                branches.insert(bi + 1, hi)
            objs[0] = branches
        live = []
        for br in objs[0]:
            res: list = []
            br.buf.extend(
                self._feed_one(br.objs, ms, row, gap_split, br.assign, res)
            )
            ok = True
            for j, bridge in res:
                if j in br.assign:
                    # the span's REAL next emission arrived: the branch
                    # whose hypothesis matches the bridge outcome
                    # survives, its sibling dies
                    if br.assign[j] != bridge:
                        ok = False
                        break
                    del br.assign[j]
            if ok:
                live.append(br)
        objs[0] = live
        out.extend(self._flush_agreed(live))
        return out

    def _feed_one(
        self, objs: list, ms: int, row, gap_split: bool, assign, resolutions
    ) -> list:
        out: list = []
        pending = objs[-1]
        node_fn, inner_fns = self._fns()
        if gap_split:
            out.extend(self._u_split(objs))
        # per-term row status, built in reversed pre-order (deps first):
        # lag j → ('v', value) emitted/previous, ('a',) decided absent,
        # ('u',) pending on its bridge; agg i → valtabs[i] = (Ui, table)
        # with its window value under every hypothesis over Ui (its
        # still-undecided dep lags, ascending)
        status: dict[int, tuple] = {}
        valtabs: dict[int, tuple] = {}
        undecided: list[int] = []
        for i in self._order:
            a, o = self.aggs[i], objs[i]
            if a.kind == _LAG_KIND:
                if any(status.get(j) == ("a",) for j in self._direct[i]):
                    # the inner emitted nothing at this row, so the row
                    # is NOT an element of this lag's input stream
                    # (AccumPattern folds over the inner's emitted
                    # IdxValues only): no pop, no enqueue, no t_prev
                    # advance, no prev erasure. The term's OWN
                    # Segmentizer can still bridge the row — its
                    # previous emission vs its next one — so with a
                    # candidate the row pends ('u') instead of hard
                    # absent (r6c, oracle-fuzz-caught)
                    cand = o.bridge_candidate()
                    has_cand = (
                        o.has_prev if a.window_ms > 0 else cand is not None
                    )
                    if not has_cand:
                        status[i] = ("a",)
                    elif assign and i in assign:
                        status[i] = ("v", cand) if assign[i] else ("a",)
                    else:
                        if i in self._fork_terms:
                            raise AssertionError(
                                "fork term fed without a branch assignment"
                            )
                        status[i] = ("u",)
                        undecided.append(i)
                    continue
                # the lag's own inner is fully decided here: any fork
                # term among its deps carries a concrete 'v'/'a'/'u'
                # status via the branch assignment (the AssertionError
                # guards the invariant), so mask 0 / empty sub is exact
                iv = inner_fns[i](
                    row,
                    self._av_for(0, [], self._sub[i], status, valtabs, objs),
                )
                if a.window_ms == 0:
                    if self._deps[i] and o.prev is not None:
                        # dep-bearing lag1 EMISSION: resolves the open
                        # bridge span like a lag-T emission does
                        bridge = o.last_emit is not None and _lag_eq(
                            o.last_emit, o.prev
                        )
                        if resolutions is not None and assign and i in assign:
                            resolutions.append((i, bool(bridge)))
                        self._resolve(pending, i, bridge)
                        for k, dk in enumerate(self._deps):
                            if i in dk and self.aggs[k].kind != _LAG_KIND:
                                objs[k].resolve(i, bridge)
                        o.last_emit = o.prev
                        status[i] = ("v", o.prev)
                    elif self._deps[i] and o.last_emit is not None:
                        # dep-bearing lag1, processed row, nothing to
                        # emit (prev slot was Fail): bridgeable
                        if assign and i in assign:
                            status[i] = (
                                ("v", o.last_emit) if assign[i] else ("a",)
                            )
                        else:
                            if i in self._fork_terms:
                                raise AssertionError(
                                    "fork term fed without a branch "
                                    "assignment"
                                )
                            status[i] = ("u",)
                            undecided.append(i)
                    else:
                        # previous stream row's value; ABSENT when the
                        # series has no previous row or its value was
                        # Fail. Flat lag1 (no deps) keeps this exact
                        # legacy behavior on ALL paths — see SEMANTICS.md
                        status[i] = ("a",) if o.prev is None else ("v", o.prev)
                    o.prev = None if iv is None else _lagv(iv)
                    continue
                # consume-once: pop every value with ms' ≤ t−T; the last
                # popped is this row's emission (the newest value in the
                # half-open frame (t_prev−T, t−T])
                lo = ms - a.window_ms
                emit_val, emitted = 0.0, False
                while o.q and o.q[0][0] <= lo:
                    emitted, emit_val = True, o.q.pop(0)[1]
                if emitted:
                    bridge = o.has_prev and _lag_eq(o.prev, emit_val)
                    if resolutions is not None and assign and i in assign:
                        resolutions.append((i, bool(bridge)))
                    self._resolve(pending, i, bridge)
                    # aggregates over this lag collapse their awaiting
                    # window entries the same way (processed AFTER the
                    # lag in reversed pre-order, so this row's entry is
                    # pushed post-resolution)
                    for k, dk in enumerate(self._deps):
                        if i in dk and self.aggs[k].kind != _LAG_KIND:
                            objs[k].resolve(i, bridge)
                    o.prev, o.has_prev = emit_val, True
                    status[i] = ("v", emit_val)
                elif not o.has_prev:
                    status[i] = ("a",)  # no bridge candidate possible
                elif assign and i in assign:
                    # speculative universe: this term's bridge is the
                    # branch's fixed hypothesis, not a table bit
                    status[i] = ("v", o.prev) if assign[i] else ("a",)
                else:
                    if i in self._fork_terms:
                        raise AssertionError(
                            "fork term fed without a branch assignment"
                        )
                    status[i] = ("u",)
                    undecided.append(i)
                if iv is not None:
                    o.q.append((ms, _lagv(iv)))
                continue
            # windowed aggregate: entry value table over its undecided
            # dep lags, then the trailing (t−W, t] frame per hypothesis
            ui_row = sorted(
                j for j in self._deps[i] if status.get(j) == ("u",)
            )
            etab = []
            for m in range(1 << len(ui_row)):
                v = inner_fns[i](
                    row,
                    self._av_for(m, ui_row, self._sub[i], status, valtabs, objs),
                )
                etab.append(None if v is None else float(v))
            if any(v is not None for v in etab):
                o.q.append((ms, list(ui_row), etab))
            lo = ms - a.window_ms
            while o.q and o.q[0][0] <= lo:
                o.q.pop(0)
            # the window table spans every bit still OPEN on a carried
            # entry, not just terms 'u' TODAY: a dep lag can be skip-
            # absent at this row (its inner emitted nothing) while its
            # bridge span — and so the carried entries' values — is
            # still unresolved (r6c)
            ui = sorted(
                set(ui_row).union(
                    t for _ems, edeps, _et in o.q for t in edeps
                )
            )
            vtab = []
            for m in range(1 << len(ui)):
                vals = []
                for _ems, edeps, et in o.q:
                    em = 0
                    for b, t in enumerate(edeps):
                        if (m >> ui.index(t)) & 1:
                            em |= 1 << b
                    ev = et[em]
                    if ev is not None:
                        vals.append(ev)
                if a.kind == "count":
                    vtab.append(len(vals))
                elif not vals:
                    vtab.append(None)
                elif a.kind == "sum":
                    vtab.append(_seq_sum(vals))
                elif a.kind == "avg":
                    vtab.append(_seq_sum(vals) / len(vals))
                elif a.kind == "min":
                    vtab.append(min(vals, key=_nan_key))
                else:  # max
                    vtab.append(max(vals, key=_nan_key))
            valtabs[i] = (tuple(ui), vtab)
        # one outcome per hypothesis over this row's undecided lag
        # terms. The row is PRESENT only when every lag term emitted or
        # bridges (batch: present = AND of per-term emission/fill
        # masks); an absent row still carries its RAW column value
        # (aggregates keep their window value, direct lag refs go NULL)
        # for the consumers that discard the mask (Timer, truth stats,
        # wait, until).
        term_absent = any(st == ("a",) for st in status.values())
        terms_all = tuple(range(len(self.aggs)))
        # a valtab may span OPEN bits of deps that are skip-absent
        # today (carried entries with unresolved bridge spans): the
        # row's table must cover those bits too, but the row's own
        # PRESENCE is judged only on its 'u' bits — an open bit varies
        # the aggregate's VALUE, not whether this row emitted
        extra = sorted(
            {
                t
                for u, _vt in valtabs.values()
                for t in u
                if t not in undecided
            }
        )
        row_n = len(undecided)
        undecided = undecided + extra
        table = []
        row_full = (1 << row_n) - 1
        for mask in range(1 << len(undecided)):
            av = self._av_for(
                mask, undecided, terms_all, status, valtabs, objs
            )
            v = node_fn(row, av)
            raw = None if v is None else bool(v)
            if term_absent or (mask & row_full) != row_full:
                table.append(_absent_of(raw))
            else:
                table.append(raw)
        pending.append([list(undecided), table])
        while pending and len(pending[0][1]) == 1:
            out.append(pending.pop(0)[1][0])
        return out

    @staticmethod
    def _u_drain(objs: list) -> list:
        """Resolve every pending row with no future emission (series end
        / timeout): all undecided terms collapse to absent — mask 0."""
        pending = objs[-1]
        out = [table[0] for _, table in pending]
        pending.clear()
        return out

    def drain(self, objs: list) -> list:
        if not self.has_fork:
            return self._u_drain(objs)
        out = self._join_all_false(objs)
        out.extend(self._u_drain(objs[0][0].objs))
        return out

    # -- vectorized micro-batch path (streaming/vectorized.py) ------------
    def precheck_batch(self, objs, ms_arr, df) -> None:
        from tsp_spark.streaming.vectorized import windowed_precheck

        windowed_precheck(self, objs, ms_arr, df)

    def feed_batch(self, objs, ms_arr, df, gaps, lg_rows):
        from tsp_spark.streaming.vectorized import windowed_batch

        return windowed_batch(self, objs, ms_arr, df, gaps, lg_rows)

    def precheck_pend_batch(self, objs, ms_arr, df) -> None:
        from tsp_spark.streaming.vectorized import (
            fork_pending_precheck,
            lag_pending_precheck,
        )

        if self.has_fork:
            fork_pending_precheck(self, objs, ms_arr, df)
        else:
            lag_pending_precheck(self, objs, ms_arr, df)

    def feed_batch_pending(self, objs, ms_arr, df, gaps):
        """Bulk feed for the single- and double-pending-lag families:
        the decided condition values (row order, prior pending first)
        as an int8 CODE array (``pend_codes`` contract; codes index
        vectorized._cv_objects) — value-equivalent to what per-row
        ``feed`` would have returned across the batch."""
        from tsp_spark.streaming.vectorized import (
            fork_pending_batch,
            lag_pending_batch,
        )

        if self.has_fork:
            return fork_pending_batch(self, objs, ms_arr, df, gaps)
        return lag_pending_batch(self, objs, ms_arr, df, gaps)


def _seq_sum(vals: list[float]) -> float:
    """Left-to-right sum — the batch window frame's accumulation order."""
    acc = 0.0
    for v in vals:
        acc += v
    return acc


def _nan_key(v: float):
    """Spark ordering: NaN sorts greatest."""
    return (math.isnan(v), v)


class _TruthStatProgram:
    """WindowStatistic truth-stat condition (``X for T <op> N times`` /
    ``<op> T'``, WindowStatistic.scala:45-103): sliding deque of per-
    event contributions in the CLOSED trailing window [t−W, t] (the
    batch `_w_range(W)` frame). kind='times' contributes 1 per true
    event; kind='time' contributes the inter-event delta (ms since the
    previous event of the same sub-series, 0 for the series head) when
    the cond is true — exactly the batch `sum(when(cond, delta))`.
    Windows and deltas are series-scoped: a >maxGap split clears state.

    ``exactly`` mirrors the compiler's full-window rule (compiler.py
    _compile_for_interval): when set, the condition additionally
    requires window_ms of SERIES time elapsed since the sub-series
    head — tracked here as series_start."""

    def __init__(self, inner, window_ms: int, lo, hi, kind: str, exactly: bool):
        # inner: column name (row-level fast path) or _WindowedCondProgram
        self.inner = inner
        self.window_ms = window_ms
        self.lo = lo
        self.hi = hi
        self.kind = kind
        self.exactly = exactly
        # pending-capable iff the inner source is: decided values then
        # lag arrival, so the kernel's row/cond queues must serialize
        # across micro-batches (any program inner may pend — wait,
        # seq-membership, combos — not just lag-bearing windowed conds)
        self.can_pend = not isinstance(inner, str) and getattr(
            inner, "can_pend", False
        )
        self.batch_capable = isinstance(inner, str) or getattr(
            inner, "batch_capable", False
        )
        # absent inners are consumed RAW here, so the stat itself
        # never propagates absence
        self.can_absent = False

    # objs layout: [q, iobjs, series_start, arr_prev_ms, meta]
    # meta holds (ms, delta, gap) for arrived rows whose inner condition
    # is still pending (lag inners decide late); deltas are fixed at
    # ARRIVAL so late processing sees the same inter-event spacing.
    def load(self, st: list[int], pos: int) -> tuple[list, int]:
        series_start = _dec(st[pos])
        arr_prev = _dec(st[pos + 1])
        n = st[pos + 2]
        pos += 3
        q = [(st[pos + 2 * i], st[pos + 2 * i + 1]) for i in range(n)]
        pos += 2 * n
        nm = st[pos]
        pos += 1
        meta = [
            (st[pos + 3 * i], st[pos + 3 * i + 1], st[pos + 3 * i + 2])
            for i in range(nm)
        ]
        pos += 3 * nm
        if not isinstance(self.inner, str):
            iobjs, pos = self.inner.load(st, pos)
        else:
            iobjs = None
        return [q, iobjs, series_start, arr_prev, meta], pos

    def init(self) -> list:
        return [
            [],
            self.inner.init()
            if not isinstance(self.inner, str)
            else None,
            None,
            None,
            [],
        ]

    def dump(self, objs: list) -> list[int]:
        q, iobjs, series_start, arr_prev, meta = objs
        out = [_enc(series_start), _enc(arr_prev), len(q)]
        for ms, c in q:
            out.extend((ms, c))
        out.append(len(meta))
        for ms, d, g in meta:
            out.extend((ms, d, g))
        if not isinstance(self.inner, str):
            out.extend(self.inner.dump(iobjs))
        return out

    def _process(self, objs: list, decided: list) -> list:
        """Run the deque/statistic update for each newly decided inner
        condition, consuming arrival metas in row order."""
        out = []
        q, meta = objs[0], objs[4]
        for cv in decided:
            m_ms, m_delta, m_gap = meta.pop(0)
            if m_gap:
                q = []
                objs[2] = None
            if objs[2] is None:
                objs[2] = m_ms
            # batch `sum(when(c.col, …))` consumes the RAW column with
            # the present mask discarded (absent rows still contribute
            # when their raw value is true)
            truthy = _raw(cv) is True
            if self.kind == "times":
                contrib = 1 if truthy else 0
            else:  # 'time': inter-event delta, series head contributes 0
                contrib = m_delta if truthy else 0
            q.append((m_ms, contrib))
            lo_ms = m_ms - self.window_ms
            while q and q[0][0] < lo_ms:
                q.pop(0)
            stat = sum(c for _, c in q)
            ok = True
            if self.lo is not None and self.lo > 0:
                ok = ok and stat >= self.lo
            if self.hi is not None:
                ok = ok and stat <= self.hi
            if self.exactly:
                ok = ok and (m_ms - objs[2] >= self.window_ms)
            out.append(ok)
        objs[0] = q
        return out

    def split(self, objs: list) -> list:
        """Series split: resolve every old-series row still pending on
        its inner (the gap row's decisions must not be needed to close
        the old series), then reset window state."""
        out: list = []
        if not isinstance(self.inner, str):
            out = self._process(objs, self.inner.split(objs[1]))
        objs[0] = []
        objs[2] = None
        objs[3] = None
        return out

    def feed(self, objs: list, ms: int, row, gap_split: bool) -> list:
        pre: list = []
        if gap_split:
            pre = self.split(objs)
        arr_prev = objs[3]
        delta = 0 if arr_prev is None else ms - arr_prev
        objs[3] = ms
        objs[4].append((ms, delta, 1 if gap_split else 0))
        if not isinstance(self.inner, str):
            decided = self.inner.feed(objs[1], ms, row, False)
        else:
            v = row[self.inner]
            decided = [(not pd.isna(v)) and bool(v)]
        return pre + self._process(objs, decided)

    def drain(self, objs: list) -> list:
        if not isinstance(self.inner, str):
            return self._process(objs, self.inner.drain(objs[1]))
        return []

    # -- vectorized micro-batch path (streaming/vectorized.py) ------------
    def precheck_batch(self, objs, ms_arr, df) -> None:
        from tsp_spark.streaming.vectorized import truthstat_precheck

        truthstat_precheck(self, objs, ms_arr, df)

    def feed_batch(self, objs, ms_arr, df, gaps, lg_rows):
        from tsp_spark.streaming.vectorized import truthstat_batch

        return truthstat_batch(self, objs, ms_arr, df, gaps, lg_rows)


class _WaitProgram:
    """``wait(T, X)`` (leading window): a row is true iff X holds
    anywhere in the CLOSED leading frame [t, t+W] of its sub-series —
    the batch compiler's ``max(X).over(w_range(W, leading=True))``
    (_compile_wait). Inherently pending: a row decides TRUE the moment
    X fires within its window, FALSE when event time passes t+W with a
    non-null X seen, and NULL (absent) when the frame held only nulls
    or the series ended immediately. Pending rows are bounded by the
    events inside one leading window.

    ``inner`` is a precomputed boolean column name or a (possibly
    pending-capable) _WindowedCondProgram; arrival metas keep row
    timestamps aligned when the inner itself decides late."""

    def __init__(self, inner, window_ms: int):
        self.inner = inner
        self.window_ms = window_ms
        self.can_pend = True
        # instantly-deciding inner → the whole frame logic vectorizes
        # (vectorized.wait_pending_batch); pending inners stay per-row
        self.pend_batch_capable = isinstance(inner, str) or getattr(
            inner, "batch_capable", False
        )
        # int8-code array bulk contract (r8, like the lag family);
        # wait resolves its backlog FIFO-prefix-wise, which the
        # kernel's code drain aligns on min(backlog, decided)
        self.pend_codes = True

    # objs layout: [pend [(ms, saw_nonnull)], iobjs, meta [(ms, gap)]]
    def load(self, st: list[int], pos: int) -> tuple[list, int]:
        n = st[pos]
        pos += 1
        pend = [(st[pos + 2 * i], st[pos + 2 * i + 1]) for i in range(n)]
        pos += 2 * n
        nm = st[pos]
        pos += 1
        meta = [(st[pos + 2 * i], st[pos + 2 * i + 1]) for i in range(nm)]
        pos += 2 * nm
        if not isinstance(self.inner, str):
            iobjs, pos = self.inner.load(st, pos)
        else:
            iobjs = None
        return [pend, iobjs, meta], pos

    def init(self) -> list:
        return [
            [],
            self.inner.init()
            if not isinstance(self.inner, str)
            else None,
            [],
        ]

    def dump(self, objs: list) -> list[int]:
        pend, iobjs, meta = objs
        out = [len(pend)]
        for ms, saw in pend:
            out.extend((ms, saw))
        out.append(len(meta))
        for ms, gap in meta:
            out.extend((ms, gap))
        if not isinstance(self.inner, str):
            out.extend(self.inner.dump(iobjs))
        return out

    @staticmethod
    def _series_end(pend: list, out: list) -> None:
        out.extend(False if saw else None for _ms, saw in pend)
        pend.clear()

    def _process(self, objs: list, decided: list) -> list:
        out: list = []
        pend = objs[0]
        for cv in decided:
            m_ms, m_gap = objs[2].pop(0)
            if m_gap:  # frames are series-scoped: truncate at the split
                self._series_end(pend, out)
            # windows strictly older than W close (a row AT t+W is in)
            while pend and m_ms > pend[0][0] + self.window_ms:
                _pms, saw = pend.pop(0)
                out.append(False if saw else None)
            # the batch leading-frame max consumes the RAW column
            # (present mask discarded): raw NULL skips the contribution
            # but the row still anchors a frame; an absent row with a
            # raw true/false value contributes it
            r = _raw(cv)
            v = None if r is None else bool(r)
            if v is True:
                out.extend(True for _ in pend)
                pend.clear()
                out.append(True)
            else:
                if v is not None:
                    for i, (pms, saw) in enumerate(pend):
                        if not saw:
                            pend[i] = (pms, 1)
                pend.append((m_ms, 1 if v is not None else 0))
        return out

    def split(self, objs: list) -> list:
        """Series split: resolve the old series entirely — inner splits
        (deciding its pending rows), those decisions flow through the
        frame logic, and whatever still pends truncates at the series
        end. The gap row's own decision is NOT needed."""
        if not isinstance(self.inner, str):
            out = self._process(objs, self.inner.split(objs[1]))
        else:
            out = []
        self._series_end(objs[0], out)
        return out

    def feed(self, objs: list, ms: int, row, gap_split: bool) -> list:
        pre: list = []
        if gap_split:
            pre = self.split(objs)
        objs[2].append((ms, 0))
        if not isinstance(self.inner, str):
            decided = self.inner.feed(objs[1], ms, row, False)
        else:
            v = row[self.inner]
            decided = [None if pd.isna(v) else bool(v)]
        return pre + self._process(objs, decided)

    def drain(self, objs: list) -> list:
        if not isinstance(self.inner, str):
            out = self._process(objs, self.inner.drain(objs[1]))
        else:
            out = []
        self._series_end(objs[0], out)
        return out

    def precheck_pend_batch(self, objs, ms_arr, df) -> None:
        from tsp_spark.streaming.vectorized import wait_pending_precheck

        wait_pending_precheck(self, objs, ms_arr, df)

    def feed_batch_pending(self, objs, ms_arr, df, gaps):
        """Bulk feed (``pend_codes`` int8-array contract): decided
        values in row order, prior pending first — may resolve only a
        FIFO prefix of the backlog (see wait_pending_batch)."""
        from tsp_spark.streaming.vectorized import wait_pending_batch

        return wait_pending_batch(self, objs, ms_arr, df, gaps)


class _ComboProgram:
    """Trilean boolean combinator over cond sources that decide at
    different delays — the composition layer that lets ``wait`` /
    nested ``andThen`` / windowed terms sit under and/or/xor/not/until
    inside the kernel. Children are precomputed JVM column names
    (decide instantly) or programs (possibly pending); each child's
    decided stream is buffered and the combinator emits as soon as
    every child has decided its head row. Value = the batch registry's
    Kleene op (Fail-propagating and/xor, Kleene-or); presence = AND of
    child presences (an ABSENT child makes the row ABSENT — the batch
    ``_and_presents`` rule). ``until`` is the batch desugaring
    ``l AND NOT r``."""

    def __init__(self, op: str, children: list):
        self.op = op
        self.children = children
        self.can_pend = any(
            getattr(c, "can_pend", False)
            for c in children
            if not isinstance(c, str)
        )
        self.batch_capable = all(
            isinstance(c, str) or getattr(c, "batch_capable", False)
            for c in children
        )
        self.can_absent = op != "until" and any(
            getattr(c, "can_absent", False)
            for c in children
            if not isinstance(c, str)
        )

    # objs layout: [child objs… (None for str children), queues]
    def load(self, st: list[int], pos: int) -> tuple[list, int]:
        objs = []
        for c in self.children:
            if isinstance(c, str):
                objs.append(None)
            else:
                o, pos = c.load(st, pos)
                objs.append(o)
        qs = []
        for _ in self.children:
            n = st[pos]
            pos += 1
            qs.append([_cv_dec(x) for x in st[pos : pos + n]])
            pos += n
        objs.append(qs)
        return objs, pos

    def init(self) -> list:
        return [
            None if isinstance(c, str) else c.init() for c in self.children
        ] + [[[] for _ in self.children]]

    def dump(self, objs: list) -> list[int]:
        out: list[int] = []
        for c, o in zip(self.children, objs[:-1]):
            if not isinstance(c, str):
                out.extend(c.dump(o))
        for q in objs[-1]:
            out.append(len(q))
            out.extend(_cv_enc(v) for v in q)
        return out

    def _combine(self, vals: list):
        # the value layer works on RAW column values (the batch column
        # expressions ignore presence); presence recombines afterwards:
        # and/or/xor/not AND their children's presents (_and_presents),
        # `until` DROPS both presents (batch _compile_until returns no
        # present) — its output rows are always visible
        absent = self.op != "until" and any(_is_absent(v) for v in vals)
        raws = [_raw(v) for v in vals]
        if self.op == "not":
            v = raws[0]
            res = None if v is None else not bool(v)
            return _absent_of(res) if absent else res
        op = self.op
        if op == "until":
            left, right = raws
            raws = [left, None if right is None else not bool(right)]
            op = "and"
        bs = [None if v is None else bool(v) for v in raws]
        if op == "and":
            if any(v is False for v in bs):
                res = False
            else:
                res = None if any(v is None for v in bs) else True
        elif op == "or":
            if any(v is True for v in bs):
                res = True
            else:
                res = None if any(v is None for v in bs) else False
        elif any(v is None for v in bs):  # xor
            res = None
        else:
            res = bs[0] != bs[1]
        return _absent_of(res) if absent else res

    def _pump(self, qs: list) -> list:
        out = []
        while all(qs):
            out.append(self._combine([q.pop(0) for q in qs]))
        return out

    def split(self, objs: list) -> list:
        """Series split: every program child resolves its old-series
        rows, so the queues balance and the combinator drains fully."""
        qs = objs[-1]
        for j, c in enumerate(self.children):
            if not isinstance(c, str):
                qs[j].extend(c.split(objs[j]))
        return self._pump(qs)

    def feed(self, objs: list, ms: int, row, gap_split: bool) -> list:
        pre: list = []
        if gap_split:
            pre = self.split(objs)
        qs = objs[-1]
        for j, c in enumerate(self.children):
            if isinstance(c, str):
                v = row[c]
                qs[j].append(None if pd.isna(v) else bool(v))
            else:
                qs[j].extend(c.feed(objs[j], ms, row, False))
        return pre + self._pump(qs)

    def drain(self, objs: list) -> list:
        qs = objs[-1]
        for j, c in enumerate(self.children):
            if not isinstance(c, str):
                qs[j].extend(c.drain(objs[j]))
        return self._pump(qs)

    # -- vectorized micro-batch path (streaming/vectorized.py) ------------
    def precheck_batch(self, objs, ms_arr, df) -> None:
        from tsp_spark.streaming.vectorized import combo_precheck

        combo_precheck(self, objs, ms_arr, df)

    def feed_batch(self, objs, ms_arr, df, gaps, lg_rows):
        from tsp_spark.streaming.vectorized import combo_batch

        return combo_batch(self, objs, ms_arr, df, gaps, lg_rows)


class _SeqBoolProgram:
    """``andThen`` nested in a boolean context: a row is true iff it
    lies inside some matched interval of the inner sequence — the batch
    ``_compile_andthen_bool`` interval semi-join (its ``coalesce(…,
    False)`` means the outcome is always True/False, never absent),
    run incrementally by composing an _AndThenSM over the nested
    chain's cond sources.

    A row decides True the moment a covering interval [from, to] emits
    (emission is monotone — a hit can't be revoked), and False once the
    SM can no longer produce an interval starting at-or-before the row:
    future interval starts are bounded below by the first stage's open
    run and every stage's still-pending left intervals, so when that
    floor passes the row (or no candidate exists) the row is final.
    Emitted intervals never cover FUTURE rows (an interval's ``to``
    precedes the row that closed its last island), so the interval list
    prunes to the pending frontier. Pending rows are bounded by one
    in-flight sequence match — window occupancy, never stream length."""

    def __init__(self, children: list):
        self.children = children
        self.sm = _AndThenSM(len(children))
        self.can_pend = True

    # objs layout: [sm_st, rowq, srcqs, pending, intervals, child objs]
    def load(self, st: list[int], pos: int) -> tuple[list, int]:
        n = st[pos]
        pos += 1
        sm_st = list(st[pos : pos + n])
        pos += n
        nr = st[pos]
        pos += 1
        rowq = [(st[pos + 2 * i], st[pos + 2 * i + 1]) for i in range(nr)]
        pos += 2 * nr
        srcqs = []
        for _ in self.children:
            nv = st[pos]
            pos += 1
            srcqs.append([_cv_dec(x) for x in st[pos : pos + nv]])
            pos += nv
        npd = st[pos]
        pos += 1
        pending = list(st[pos : pos + npd])
        pos += npd
        ni = st[pos]
        pos += 1
        intervals = [(st[pos + 2 * i], st[pos + 2 * i + 1]) for i in range(ni)]
        pos += 2 * ni
        childobjs = []
        for c in self.children:
            if isinstance(c, str):
                childobjs.append(None)
            else:
                o, pos = c.load(st, pos)
                childobjs.append(o)
        return [sm_st, rowq, srcqs, pending, intervals, childobjs], pos

    def init(self) -> list:
        return [
            self.sm.init(),
            [],
            [[] for _ in self.children],
            [],
            [],
            [None if isinstance(c, str) else c.init() for c in self.children],
        ]

    def dump(self, objs: list) -> list[int]:
        sm_st, rowq, srcqs, pending, intervals, childobjs = objs
        out = [len(sm_st), *sm_st, len(rowq)]
        for ms, gap in rowq:
            out.extend((ms, gap))
        for q in srcqs:
            out.append(len(q))
            out.extend(_cv_enc(v) for v in q)
        out.append(len(pending))
        out.extend(pending)
        out.append(len(intervals))
        for f, t in intervals:
            out.extend((f, t))
        for c, o in zip(self.children, childobjs):
            if not isinstance(c, str):
                out.extend(c.dump(o))
        return out

    def _resolve(self, sm_st, pending, intervals) -> list:
        out = []
        _ni, open0, _l0, _lvi0, stages = self.sm._unpack(sm_st)
        cands = [open0[1]] if open0 else []
        for _op, _lastj, _lvij, pend_l, _pend_r in stages:
            cands.extend(a[2] for a in pend_l)
        ffm = min(cands) if cands else None  # None: no future start ≤ seen rows
        while pending:
            pms = pending[0]
            if any(f <= pms <= t for f, t in intervals):
                out.append(True)
            elif ffm is None or pms < ffm:
                out.append(False)
            else:
                break
            pending.pop(0)
        if pending:
            lo = pending[0]
            intervals[:] = [iv for iv in intervals if iv[1] >= lo]
        else:
            intervals.clear()
        return out

    def _pump(self, objs: list) -> list:
        sm_st, rowq, srcqs, pending, intervals, _childobjs = objs
        out = []
        while rowq and all(srcqs):
            ms0, gap0 = rowq.pop(0)
            # chain elements islandize per element (present-filtered),
            # so any absent flavor is side-invisible
            conds = [
                ABSENT if _is_absent(v) else v
                for v in (q.pop(0) for q in srcqs)
            ]
            st2, items = self.sm.step(sm_st, ms0, conds, bool(gap0), None)
            sm_st[:] = st2
            intervals.extend((f, t) for f, t, _n in items)
            pending.append(ms0)
            out.extend(self._resolve(sm_st, pending, intervals))
        return out

    def _finish(self, objs: list, out: list) -> list:
        """Flush the inner SM, resolve every pending row against the
        final interval set, reset for the next sub-series."""
        sm_st, _rowq, _srcqs, pending, intervals, _childobjs = objs
        items = self.sm.flush(sm_st, None)
        intervals.extend((f, t) for f, t, _n in items)
        while pending:
            pms = pending.pop(0)
            out.append(any(f <= pms <= t for f, t in intervals))
        intervals.clear()
        sm_st[:] = self.sm.init()
        return out

    def split(self, objs: list) -> list:
        _sm_st, _rowq, srcqs, _pending, _intervals, childobjs = objs
        for j, c in enumerate(self.children):
            if not isinstance(c, str):
                srcqs[j].extend(c.split(childobjs[j]))
        return self._finish(objs, self._pump(objs))

    def feed(self, objs: list, ms: int, row, gap_split: bool) -> list:
        pre: list = []
        if gap_split:
            pre = self.split(objs)
        _sm_st, rowq, srcqs, _pending, _intervals, childobjs = objs
        rowq.append((ms, 0))
        for j, c in enumerate(self.children):
            if isinstance(c, str):
                v = row[c]
                srcqs[j].append(None if pd.isna(v) else bool(v))
            else:
                srcqs[j].extend(c.feed(childobjs[j], ms, row, False))
        return pre + self._pump(objs)

    def drain(self, objs: list) -> list:
        _sm_st, _rowq, srcqs, _pending, _intervals, childobjs = objs
        for j, c in enumerate(self.children):
            if not isinstance(c, str):
                srcqs[j].extend(c.drain(childobjs[j]))
        return self._finish(objs, self._pump(objs))


@dataclass
class PatternSpec:
    """One pattern routed into the multi kernel. ``cond_cols`` entries
    are either precomputed boolean column names (JVM fast path) or
    windowed condition programs evaluated per event in the kernel."""

    pattern_id: int
    subunit: int
    sm: object  # _IslandSM | _TimerSM | _AndThenSM
    cond_cols: list  # list[str | _WindowedCondProgram | _TruthCountProgram]


def stateful_multi(
    stream: DataFrame,
    specs: Sequence[PatternSpec],
    keys: Sequence[str],
    ts: str,
    max_gap_ms: int = 60_000,
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Run every spec's state machine over one keyed stream — a single
    applyInPandasWithState (Spark allows exactly one per query), one
    shuffle, one state store. Emits closed intervals:
    (pattern_id, subunit, keys…, from_ts, to_ts, n_rows).

    Each key's event-time timeout is its last row + ``max_gap_ms``; when
    it is due, the key closes (pending rows resolve absent, open runs
    flush) and its state is removed. Spark runs that timed-out-state
    pass in every micro-batch, against the watermark the batch before
    advanced. ``get_spark`` turns off the empty no-data micro-batch that
    would otherwise run it at once, so the close is emitted with the next
    data batch: the same incidents, but if the source stalls, closes
    that are due wait for the next data (docs/SCALE.md "No-data
    micro-batches")."""
    key_fields = [stream.schema[k] for k in keys]
    out_schema = T.StructType(
        [
            T.StructField("pattern_id", T.IntegerType()),
            T.StructField("subunit", T.IntegerType()),
            *key_fields,
            T.StructField("from_ts", T.TimestampType()),
            T.StructField("to_ts", T.TimestampType()),
            T.StructField("n_rows", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("last_ms", T.LongType())]
        + [
            T.StructField(f"p{i}", T.ArrayType(T.LongType()))
            for i in range(len(specs))
        ]
    )
    out_cols = [
        "pattern_id", "subunit", *keys, "from_ts", "to_ts", "n_rows",
    ]
    update = _make_update(specs, keys, ts, max_gap_ms, out_cols)

    return (
        stream.withWatermark(ts, watermark_delay)
        .groupBy(*keys)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _islands_vec(st, ms, conds, gaps):
    """Vectorized _IslandSM over one micro-batch: identical transitions
    to step(), processed per RUN (numpy change-point segments) instead
    of per row — the throughput path for the common pure-JVM-column
    pattern. Segment starts are cond flips or gap rows; within a
    segment every row shares (cond, no-gap), so the per-row recurrence
    collapses to run bookkeeping."""
    import numpy as np

    run_start, last, n = _dec(st[0]), _dec(st[1]), st[2]
    closed = []
    N = len(ms)
    flags = np.empty(N, dtype=bool)
    flags[0] = True
    if N > 1:
        flags[1:] = (conds[1:] != conds[:-1]) | gaps[1:]
    seg = np.flatnonzero(flags)
    for k in range(len(seg)):
        s = int(seg[k])
        e = int(seg[k + 1]) if k + 1 < len(seg) else N
        c = bool(conds[s])
        g = bool(gaps[s])
        if run_start is not None and (g or not c):
            closed.append((run_start, last, n))
            run_start, n = None, 0
        if c:
            if run_start is None:
                run_start, n = int(ms[s]), 0
            n += e - s
        last = int(ms[e - 1])
    return [_enc(run_start), _enc(last), n], closed


def _islands_vec_masked(sm, st, ms, conds, gaps, absent):
    """_islands_vec with an absent mask: absent rows are INVISIBLE to
    islandization (the batch _islandize drops present-masked rows),
    their gap flags fold onto the next visible row, and a trailing gap
    with no visible row after it still closes the open island now —
    the per-row head-gap delivery."""
    import numpy as np

    keep = ~absent
    kidx = np.flatnonzero(keep)
    cg = np.cumsum(gaps)
    items_all: list = []
    if len(kidx):
        g2 = np.empty(len(kidx), dtype=bool)
        g2[0] = cg[kidx[0]] > 0
        if len(kidx) > 1:
            g2[1:] = np.diff(cg[kidx]) > 0
        st, items = _islands_vec(st, ms[kidx], conds[kidx], g2)
        items_all.extend(items)
        trailing = cg[-1] - cg[kidx[-1]] > 0
    else:
        trailing = bool(gaps.any())
    if trailing:
        st, items = sm.split(st)
        items_all.extend(items)
    return st, items_all


def _timer_vec(sm, st, ms, conds, gaps):
    """Vectorized _TimerSM (same segment walk as _islands_vec); the
    hold-start row inside a true segment is a searchsorted on the
    monotone timestamps instead of a per-row comparison."""
    import numpy as np

    run_start, hold_start, last, n = (
        _dec(st[0]), _dec(st[1]), _dec(st[2]), st[3],
    )
    closed = []
    N = len(ms)
    flags = np.empty(N, dtype=bool)
    flags[0] = True
    if N > 1:
        flags[1:] = (conds[1:] != conds[:-1]) | gaps[1:]
    seg = np.flatnonzero(flags)
    for k in range(len(seg)):
        s = int(seg[k])
        e = int(seg[k + 1]) if k + 1 < len(seg) else N
        c = bool(conds[s])
        g = bool(gaps[s])
        if run_start is not None and (g or not c):
            if hold_start is not None:
                closed.append((hold_start, last, n))
            run_start, hold_start, n = None, None, 0
        if c:
            if run_start is None:
                run_start = int(ms[s])
            if hold_start is not None:
                n += e - s
            else:
                j = int(
                    np.searchsorted(ms[s:e], run_start + sm.window_ms, "left")
                )
                if j < e - s:
                    hold_start = int(ms[s + j])
                    n = e - s - j
        last = int(ms[e - 1])
    return [_enc(run_start), _enc(hold_start), _enc(last), n], closed


def _andthen_vec(sm, st, ms, conds_cols, gaps):
    """Vectorized _AndThenSM: within a segment of uniform conds and no
    gaps, no side opens/closes after the first row, so no pend entries
    change and no new matches can form — `_match` re-runs against
    identical sets. The chain therefore steps ONCE per segment and then
    bulk-advances the raw index and the per-side last-visible
    timestamps; skipped intermediate prunes only defer removals the
    next boundary's prune performs (pruning is monotone — it never
    affects match results, only state size)."""
    import numpy as np

    closed: list = []
    N = len(ms)
    flags = np.empty(N, dtype=bool)
    flags[0] = True
    if N > 1:
        change = gaps[1:].copy()
        for c in conds_cols:
            change |= c[1:] != c[:-1]
        flags[1:] = change
    seg = np.flatnonzero(flags)
    for k in range(len(seg)):
        s = int(seg[k])
        e = int(seg[k + 1]) if k + 1 < len(seg) else N
        if gaps[s]:
            st, items = sm.split(st)
            closed.extend(items)
        conds = [bool(c[s]) for c in conds_cols]
        st, items = sm.step(st, int(ms[s]), conds, False, None)
        closed.extend(items)
        if e - s > 1:
            next_idx, open0, last0, lvi0, stages = sm._unpack(st)
            next_idx += e - s - 1
            last_ms = int(ms[e - 1])
            # every vectorized-path row is visible (absent-capable
            # chains are routed per-row), so the last visible index
            # advances with the raw index
            last0, lvi0 = last_ms, next_idx - 1
            for stg in stages:
                stg[1], stg[2] = last_ms, next_idx - 1
            st = sm._pack(next_idx, open0, last0, lvi0, stages)
    return st, closed


def _make_update(specs, keys, ts, max_gap_ms, out_cols):
    """Build the applyInPandasWithState update fn. Module-level (not a
    closure of stateful_multi) so tests and tools can drive the exact
    production kernel with a stub GroupState — fast batch-parity checks
    with no streaming query, including state pack/unpack between
    simulated micro-batches."""
    specs = list(specs)

    def _programs(spec):
        return [c for c in spec.cond_cols if not isinstance(c, str)]

    def _buffered(spec):
        """Any pending-capable cond source? Then row/cond queues must be
        part of the serialized state (they can span micro-batches).
        Non-buffered specs drain their queues within every row, so the
        queues are always empty at pack time and aren't encoded."""
        return any(
            not isinstance(c, str) and c.can_pend for c in spec.cond_cols
        )

    def _unpack_state(spec, arr):
        """[VERSION] + [len(sm_st)] + sm_st (+ rowq + per-source cond
        queues if buffered) + program states → (sm_st, rowq, srcqs,
        prog_objs). The layout is NOT stable across kernel upgrades
        (r6 widened the cond-value codes and the sliding-agg entry
        shape), so a version word guards every unpack: restarting a
        streaming query from an older checkpoint fails loudly here
        instead of silently misdecoding state (review-caught)."""
        arr = list(arr)
        if not arr or arr[0] != _STATE_VERSION:
            raise ValueError(
                f"incompatible kernel state (version "
                f"{arr[0] if arr else 'empty'}, expected {_STATE_VERSION}): "
                f"this checkpoint was written by a different kernel "
                f"build — restart with a fresh checkpoint dir (the "
                f"source replays by event time)"
            )
        n = arr[1]
        sm_st = arr[2 : 2 + n]
        pos = 2 + n
        rowq: list = []
        srcqs = [[] for _ in spec.cond_cols]
        if _buffered(spec):
            nq = arr[pos]
            pos += 1
            for _ in range(nq):
                rowq.append((arr[pos], arr[pos + 1], _dec(arr[pos + 2])))
                pos += 3
            for j in range(len(spec.cond_cols)):
                nv = arr[pos]
                pos += 1
                srcqs[j] = [
                    _cv_dec(x)
                    for x in arr[pos : pos + nv]
                ]
                pos += nv
        prog_objs = []
        for prog in _programs(spec):
            objs, pos = prog.load(arr, pos)
            prog_objs.append(objs)
        return sm_st, rowq, srcqs, prog_objs

    def _pack_state(spec, sm_st, rowq, srcqs, prog_objs):
        out = [_STATE_VERSION, len(sm_st)] + [int(x) for x in sm_st]
        if _buffered(spec):
            out.append(len(rowq))
            for ms, gap, lst in rowq:
                out.extend((ms, gap, _enc(lst)))
            for sq in srcqs:
                out.append(len(sq))
                out.extend(_cv_enc(v) for v in sq)
        for prog, objs in zip(_programs(spec), prog_objs):
            out.extend(prog.dump(objs))
        return out

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        closed: list[tuple] = []

        def emit(spec, items):
            for it in items:
                f, t_, n = it
                closed.append((spec.pattern_id, spec.subunit, *key, f, t_, n))

        def advance(i, spec):
            """Step the SM with every queued row whose cond sources have
            all decided — rows feed strictly in arrival order. A gap
            flag at the queue HEAD delivers the series split to the SM
            immediately, before (and independent of) the gap row's own
            cond — pending-capable sources may never decide the final
            row of a stream, but the old sub-series is complete the
            moment the gap row arrives, so its last island must close
            now (the batch plan closes it unconditionally; waiting on
            the gap row's cond would hold the interval until a timeout
            that a stalled watermark may never fire). An ABSENT cond on
            a single-cond island spec makes the row INVISIBLE (the
            batch _islandize drops present-masked rows before
            islandization): the SM is not stepped. Timer specs map
            ABSENT to false (batch Timer discards the present mask →
            null cond → boundary); chain SMs consume ABSENT per side."""
            sq = srcqs[i]
            while rowqs[i]:
                ms0, gap0, last0 = rowqs[i][0]
                if gap0:
                    sts[i], items = spec.sm.split(sts[i])
                    emit(spec, items)
                    rowqs[i][0] = (ms0, 0, last0)
                    continue
                if not all(sq):
                    break
                rowqs[i].pop(0)
                conds = [sq[j].pop(0) for j in range(len(sq))]
                if isinstance(spec.sm, _AndThenSM):
                    # chain elements islandize per element: any absent
                    # flavor is side-invisible
                    conds = [ABSENT if _is_absent(v) else v for v in conds]
                    sts[i], items = spec.sm.step(
                        sts[i], ms0, conds, False, last0
                    )
                elif _is_absent(conds[0]) and isinstance(spec.sm, _IslandSM):
                    continue
                else:
                    # Timer consumes the RAW value (batch discards the
                    # present mask; raw NULL → false → run boundary)
                    conds = [
                        False if _raw(v) is None else _raw(v) for v in conds
                    ]
                    sts[i], items = spec.sm.step(sts[i], ms0, conds, False)
                emit(spec, items)

        if state.hasTimedOut:
            if state.exists:
                got = state.get
                last = got[0]
                sts, rowqs, srcqs = [None] * len(specs), [], []
                for i, spec in enumerate(specs):
                    st, rowq, sq, objs = _unpack_state(spec, got[1 + i])
                    sts[i] = st
                    rowqs.append(rowq)
                    srcqs.append(sq)
                    # no more data is coming: pending rows resolve absent
                    pi = 0
                    for j, c in enumerate(spec.cond_cols):
                        if not isinstance(c, str):
                            sq[j].extend(
                                False if v is None else v
                                for v in c.drain(objs[pi])
                            )
                            pi += 1
                    advance(i, spec)
                    if isinstance(spec.sm, _AndThenSM):
                        emit(
                            spec,
                            [
                                (f, t_, None)
                                for f, t_, _ in spec.sm.flush(sts[i], last)
                            ],
                        )
                    else:
                        emit(spec, spec.sm.flush(sts[i]))
            state.remove()
            yield _pdf(closed, out_cols)
            return

        if state.exists:
            got = state.get
            last = _dec(got[0])
            sts, rowqs, srcqs, progs = [], [], [], []
            for i, spec in enumerate(specs):
                st, rowq, sq, objs = _unpack_state(spec, got[1 + i])
                sts.append(st)
                rowqs.append(rowq)
                srcqs.append(sq)
                progs.append(objs)
        else:
            last = None
            sts = [spec.sm.init() for spec in specs]
            rowqs = [[] for _ in specs]
            srcqs = [[[] for _ in spec.cond_cols] for spec in specs]
            progs = [
                [prog.init() for prog in _programs(spec)] for spec in specs
            ]

        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(ts)
        # vectorized fast path: island/timer/chain specs whose conds are
        # precomputed JVM columns OR batch-capable (non-pending)
        # condition programs process the whole micro-batch via numpy —
        # identical transitions, 5-25× the per-row loop's throughput.
        # Pending-capable programs (lag/wait/nested andThen) keep the
        # per-row feed below.
        fast = [
            i
            for i, spec in enumerate(specs)
            if not _FORCE_SLOW
            and type(spec.sm) in (_IslandSM, _TimerSM, _AndThenSM)
            and all(
                isinstance(c, str) or getattr(c, "batch_capable", False)
                for c in spec.cond_cols
            )
            # chain SMs consume ABSENT per side (side-invisible rows) —
            # the vectorized chain walk can't express that, so
            # absent-capable (lag-bearing) programs keep chains per-row
            and not (
                type(spec.sm) is _AndThenSM
                and any(
                    getattr(c, "can_absent", False)
                    for c in spec.cond_cols
                    if not isinstance(c, str)
                )
            )
        ]
        slow = [i for i in range(len(specs)) if i not in fast]
        # bulk pending path: single-cond island/timer specs over the
        # single-pending-lag program family (`lag(x,T) <cmp> …`) —
        # decided values computed for the whole micro-batch
        # (vectorized.lag_pending_batch), then drained through the
        # vectorized state machines; only undecidable tail rows stay
        # queued. State layout identical to the per-row route.
        bulk = [
            i
            for i in slow
            if not _FORCE_SLOW
            and type(specs[i].sm) in (_IslandSM, _TimerSM)
            and len(specs[i].cond_cols) == 1
            and not isinstance(specs[i].cond_cols[0], str)
            and getattr(specs[i].cond_cols[0], "pend_batch_capable", False)
        ]
        for i in bulk:
            slow.remove(i)
        ms_arr = gaps = None
        if len(rows) and (fast or bulk):
            import numpy as np

            ms_arr = (rows[ts].astype("int64") // 1_000_000).to_numpy()
            gaps = np.empty(len(ms_arr), dtype=bool)
            gaps[0] = last is not None and ms_arr[0] - last > max_gap_ms
            if len(ms_arr) > 1:
                gaps[1:] = np.diff(ms_arr) > max_gap_ms
        if len(rows) and fast:
            import numpy as np

            from tsp_spark.streaming.vectorized import (
                TRI_TRUE,
                VecUnsupported,
                last_gap_rows,
                tri_absent,
                tri_raw,
            )

            # demote specs whose programs can't vectorize THIS batch
            # (string dtypes, out-of-order carried state) — prechecked
            # before any state mutation, so the per-row path continues
            # from identical state
            for i in list(fast):
                try:
                    pi = 0
                    for c in specs[i].cond_cols:
                        if not isinstance(c, str):
                            c.precheck_batch(progs[i][pi], ms_arr, rows)
                            pi += 1
                except VecUnsupported:
                    fast.remove(i)
                    slow.append(i)
            lg_rows = None
            for i in list(fast):
                spec = specs[i]
                cols_arr = []
                pi = 0
                prog_list = _programs(spec)
                # transactional: a mid-evaluation VecUnsupported (e.g.
                # a later term's magnitude demotion after an earlier
                # term already slid its deque) must not leave state
                # half-advanced — snapshot through the packed codec
                # and restore before routing the spec to the per-row
                # feed for this batch
                snaps = (
                    [p.dump(progs[i][k]) for k, p in enumerate(prog_list)]
                    if prog_list
                    else None
                )
                absent0 = None
                try:
                    for c in spec.cond_cols:
                        if isinstance(c, str):
                            cols_arr.append(
                                rows[c].fillna(False).astype(bool).to_numpy()
                            )
                        else:
                            if lg_rows is None:
                                lg_rows = last_gap_rows(gaps)
                            tri = c.feed_batch(
                                progs[i][pi], ms_arr, rows, gaps, lg_rows
                            )
                            pi += 1
                            if isinstance(spec.sm, _TimerSM):
                                # Timer consumes the RAW value (the
                                # batch discards the present mask;
                                # raw NULL → false → run boundary)
                                cols_arr.append(tri_raw(tri) == TRI_TRUE)
                            else:
                                ab = tri_absent(tri)
                                if ab.any():
                                    absent0 = ab
                                cols_arr.append(tri == TRI_TRUE)
                except VecUnsupported:
                    for k, p in enumerate(prog_list):
                        progs[i][k], _ = p.load(snaps[k], 0)
                    fast.remove(i)
                    slow.append(i)
                    continue
                if isinstance(spec.sm, _IslandSM):
                    if absent0 is not None:
                        sts[i], items = _islands_vec_masked(
                            spec.sm, sts[i], ms_arr, cols_arr[0],
                            gaps, absent0,
                        )
                        emit(spec, items)
                        continue
                    sts[i], items = _islands_vec(
                        sts[i], ms_arr, cols_arr[0], gaps
                    )
                elif isinstance(spec.sm, _TimerSM):
                    sts[i], items = _timer_vec(
                        spec.sm, sts[i], ms_arr, cols_arr[0], gaps
                    )
                else:
                    sts[i], items = _andthen_vec(
                        spec.sm, sts[i], ms_arr, cols_arr, gaps
                    )
                emit(spec, items)
        if len(rows) and bulk:
            import numpy as np

            from tsp_spark.streaming.vectorized import VecUnsupported

            ms_list = gap_list = lasts = None
            for i in bulk:
                spec = specs[i]
                c = spec.cond_cols[0]
                # transactional, like the fast path above: the pending
                # feed can mutate inner program state (e.g. a wait
                # inner's lag term advances prev) BEFORE a later term
                # raises VecUnsupported — snapshot through the packed
                # codec and restore before the per-row feed replays
                # this batch (review-caught: no restore meant the
                # replay saw batch-end lag state on row 0)
                snap = c.dump(progs[i][0])
                try:
                    c.precheck_pend_batch(progs[i][0], ms_arr, rows)
                    decided = c.feed_batch_pending(
                        progs[i][0], ms_arr, rows, gaps
                    )
                except VecUnsupported:
                    progs[i][0], _ = c.load(snap, 0)
                    slow.append(i)
                    continue
                if getattr(c, "pend_codes", False):
                    # int8-code contract (lag + wait families): numpy
                    # end to end — only the (small) undecided tail is
                    # boxed into the per-row rowq layout. Decided codes
                    # align 1:1 with backlog-then-batch order; the lag
                    # feed resolves the whole backlog or nothing
                    # (whole-segment pending flush), the wait feed may
                    # resolve a FIFO prefix — min(backlog, k) below
                    # handles both.
                    k = len(decided)
                    m = len(ms_arr)
                    nb0 = min(len(rowqs[i]), k)
                    kb = k - nb0
                    if k:
                        if nb0:
                            back = rowqs[i][:nb0]
                            del rowqs[i][:nb0]
                            ms2 = np.concatenate(
                                [
                                    np.fromiter(
                                        (h[0] for h in back),
                                        np.int64,
                                        nb0,
                                    ),
                                    ms_arr[:kb],
                                ]
                            )
                            g2 = np.concatenate(
                                [
                                    np.fromiter(
                                        (bool(h[1]) for h in back),
                                        bool,
                                        nb0,
                                    ),
                                    gaps[:kb],
                                ]
                            )
                        else:
                            ms2, g2 = ms_arr[:k], gaps[:k]
                        if isinstance(spec.sm, _TimerSM):
                            # Timer consumes the RAW value (the batch
                            # discards the present mask; raw NULL →
                            # false): codes 2 (True) / 4 (ABSENT_TRUE)
                            conds2 = (decided == 2) | (decided == 4)
                            sts[i], items = _timer_vec(
                                spec.sm, sts[i], ms2, conds2, g2
                            )
                        else:
                            ab = decided >= 3
                            cb = decided == 2
                            if ab.any():
                                sts[i], items = _islands_vec_masked(
                                    spec.sm, sts[i], ms2, cb, g2, ab
                                )
                            else:
                                sts[i], items = _islands_vec(
                                    sts[i], ms2, cb, g2
                                )
                        emit(spec, items)
                    # queue the undecided batch tail in the per-row
                    # layout (rows kb..m-1); srcqs stays empty
                    if kb < m:
                        tail_last = (
                            last if kb == 0 else int(ms_arr[kb - 1])
                        )
                        tl = [tail_last] + [
                            int(x) for x in ms_arr[kb : m - 1]
                        ]
                        rowqs[i].extend(
                            zip(
                                (int(x) for x in ms_arr[kb:]),
                                (int(x) for x in gaps[kb:]),
                                tl,
                            )
                        )
                    advance(i, spec)
                    continue
                if ms_list is None:
                    ms_list = [int(x) for x in ms_arr]
                    gap_list = [int(x) for x in gaps]
                    lasts = [last] + ms_list[:-1]
                rowqs[i].extend(zip(ms_list, gap_list, lasts))
                sq = srcqs[i][0]
                sq.extend(False if v is None else v for v in decided)
                k = len(sq)
                if k:
                    head = rowqs[i][:k]
                    del rowqs[i][:k]
                    vals2 = sq[:k]
                    del sq[:k]
                    ms2 = np.array([h[0] for h in head], dtype=np.int64)
                    g2 = np.array([bool(h[1]) for h in head])
                    if isinstance(spec.sm, _TimerSM):
                        # Timer consumes the RAW value (the batch
                        # discards the present mask; raw NULL → false)
                        conds2 = np.array(
                            [_raw(v) is True for v in vals2]
                        )
                        sts[i], items = _timer_vec(
                            spec.sm, sts[i], ms2, conds2, g2
                        )
                    else:
                        ab = np.array([_is_absent(v) for v in vals2])
                        cb = np.array([v is True for v in vals2])
                        if ab.any():
                            sts[i], items = _islands_vec_masked(
                                spec.sm, sts[i], ms2, cb, g2, ab
                            )
                        else:
                            sts[i], items = _islands_vec(
                                sts[i], ms2, cb, g2
                            )
                    emit(spec, items)
                # a remaining HEAD gap flag (e.g. the gap row itself
                # still pending) delivers its split immediately, like
                # the per-row head-gap rule
                advance(i, spec)
        if len(rows) and slow:
            # plain dicts, not iterrows(): building a pandas Series per
            # row costs ~100 µs each — 10-50× the whole state
            # transition. Programs only need row[name] scalar access.
            for row in rows.to_dict("records"):
                ms = int(row[ts].value // 1_000_000)
                gap_split = last is not None and ms - last > max_gap_ms
                for i in slow:
                    spec = specs[i]
                    rowqs[i].append((ms, 1 if gap_split else 0, last))
                    pi = 0
                    for j, c in enumerate(spec.cond_cols):
                        if isinstance(c, str):
                            v = row[c]
                            srcqs[i][j].append((not pd.isna(v)) and bool(v))
                        else:
                            decided = c.feed(progs[i][pi], ms, row, gap_split)
                            pi += 1
                            srcqs[i][j].extend(
                                False if v is None else v for v in decided
                            )
                    advance(i, spec)
                last = ms
        if len(rows):
            last = int(rows[ts].iloc[-1].value // 1_000_000)

        state.update(
            (
                last,
                *[
                    _pack_state(spec, sts[i], rowqs[i], srcqs[i], progs[i])
                    for i, spec in enumerate(specs)
                ],
            )
        )
        state.setTimeoutTimestamp(last + max_gap_ms)
        yield _pdf(closed, out_cols)

    return update


def _pdf(rows, cols):
    if not rows:
        return pd.DataFrame({c: [] for c in cols})
    df = pd.DataFrame(rows, columns=cols)
    for c in ("from_ts", "to_ts"):
        df[c] = pd.to_datetime(df[c], unit="ms")
    return df


# ------------------------------------------------------- single wrappers


def stateful_islands(
    stream: DataFrame,
    keys: Sequence[str],
    ts: str,
    cond_col: str,
    max_gap_ms: int = 60_000,
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Incremental island/RLE kernel; see stateful_multi."""
    spec = PatternSpec(0, 0, _IslandSM(), [cond_col])
    return stateful_multi(
        stream, [spec], keys, ts, max_gap_ms, watermark_delay
    ).select(*keys, "from_ts", "to_ts", "n_rows")


def stateful_timer(
    stream: DataFrame,
    keys: Sequence[str],
    ts: str,
    cond_col: str,
    window_ms: int,
    max_gap_ms: int = 60_000,
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Incremental TimerPattern ``cond for T``; see stateful_multi."""
    spec = PatternSpec(0, 0, _TimerSM(window_ms), [cond_col])
    return stateful_multi(
        stream, [spec], keys, ts, max_gap_ms, watermark_delay
    ).select(*keys, "from_ts", "to_ts", "n_rows")


def stateful_andthen(
    stream: DataFrame,
    keys: Sequence[str],
    ts: str,
    cond_a_col: str,
    cond_b_col: str,
    max_gap_ms: int = 60_000,
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Incremental AndThen sequence join; see stateful_multi."""
    spec = PatternSpec(0, 0, _AndThenSM(), [cond_a_col, cond_b_col])
    return stateful_multi(
        stream, [spec], keys, ts, max_gap_ms, watermark_delay
    ).select(*keys, "from_ts", "to_ts")


# ------------------------------------------------------------ DSL router


def build_spec(
    stream: DataFrame,
    pattern: str,
    keys: Sequence[str],
    ts: str,
    fields_types: dict[str, str] | None = None,
    max_gap_ms: int = 60_000,
    pattern_id: int = 0,
    subunit: int = 0,
) -> tuple[DataFrame, PatternSpec]:
    """Compile a DSL pattern into (stream + cond sources, PatternSpec)
    for the multi kernel. Row-level booleans compile to JVM columns (the
    fast path); booleans containing windowed aggregates (``avg(x, T)``
    and friends) or lag terms (``lag(x[, T])``, delayed-resolution —
    see _WindowedCondProgram) become sliding condition programs
    evaluated inside the kernel, and ``for T <op> N times`` / ``<op>
    T'`` becomes a truth-stat program (WindowStatistic) with the
    compiler's full-window "exactly" gate. ``wait(T, X)`` becomes a
    pending leading-window program; nested/right-associated ``andThen``
    becomes a sequence-membership program (_SeqBoolProgram); boolean
    combinators over pending shapes compose through _ComboProgram;
    nested window aggregates evaluate inner-first; lag carries string
    values through the tagged state codec; lag nested inside a windowed
    aggregate (GroupPattern-over-PreviousValue,
    ASTPatternGenerator.scala:128-154) resolves incrementally via
    per-entry bridge depmasks (r6 — see _SlidingAggState.resolve).
    Row-wise reducers (``sumOf…avgOf`` with `_`-constraints) evaluate
    in-kernel anywhere an expression can appear (r6). A pending lag
    nested inside ANOTHER lag's lookback — the last declared boundary
    — runs incrementally too (r6c): the program state forks into
    speculative bridge/absent branches while the inner span is open
    and joins at its next emission (see _WindowedCondProgram._fork_terms).
    The kernel is not total over the pattern grammar. These shapes
    raise a ValueError that routes them to the carry-buffer mode
    (streaming/job.py): a ``for T`` timer or ``for T <op> …`` truth-stat
    under ``andThen``, ``wait`` or a boolean combinator (e.g. ``x > 600
    for 2 sec andThen x < 600``), including a timer over a windowed
    aggregate ("Timer
    inside a windowed boolean"); a function or aggregate kind the
    in-kernel evaluator lacks inside a windowed boolean; and any other
    sub-expression whose batch form needs a window."""
    from tsp_spark.compile.compiler import PatternCompiler
    from tsp_spark.dsl import ast as A
    from tsp_spark.dsl.parser import parse_pattern

    node = (
        parse_pattern(pattern, fields_types or {})
        if isinstance(pattern, str)
        else pattern
    )
    comp = PatternCompiler(keys, ts, fields_types, max_gap_ms=max_gap_ms)

    s = stream
    n_cols = 0

    def flatten_chain(at_node):
        """Left-associative flatten — the batch compiler folds exactly
        this way: compile_intervals recurses LEFT and sequence-joins
        each right operand in turn. A right operand that is ITSELF an
        AndThen (parenthesized) stays one chain element — the batch
        islandizes it through the boolean interval semi-join
        (_compile_andthen_bool), which cond_source reproduces with a
        _SeqBoolProgram."""
        chain = []
        cur = at_node
        while isinstance(cur, A.AndThen):
            chain.append(cur.right)
            cur = cur.left
        chain.append(cur)
        chain.reverse()
        return chain

    def cond_source(n):
        """Boolean sub-AST → column name (row-level) or program
        (windowed / pending), composed recursively: wait → leading
        window program, nested andThen → sequence-membership program,
        boolean combinators over pending shapes → Kleene combinator."""
        nonlocal s, n_cols
        nw = n
        while isinstance(nw, A.Assert):
            nw = nw.inner
        if isinstance(nw, A.Wait):
            # leading window: inherently pending — the _WaitProgram
            # buffers rows until X fires or event time passes t+W
            return _WaitProgram(cond_source(nw.inner), nw.window_ms)
        if isinstance(nw, A.AndThen):
            # andThen in a boolean context: interval-membership
            # semantics (the batch _compile_andthen_bool semi-join)
            return _SeqBoolProgram([cond_source(c) for c in flatten_chain(nw)])
        # Wait and AndThen need pending-capable programs, composed
        # through _ComboProgram under boolean combinators
        pending = (A.Wait, A.AndThen)
        if isinstance(nw, A.Until) and _contains(nw, (*pending, A.AggregateCall)):
            return _ComboProgram(
                "until", [cond_source(nw.left), cond_source(nw.right)]
            )
        if (
            isinstance(nw, A.FunctionCall)
            and nw.name in ("and", "or", "xor", "not")
            and _contains(nw, pending)
        ):
            return _ComboProgram(nw.name, [cond_source(a) for a in nw.args])
        if _contains(n, A.AggregateCall):
            return _WindowedCondProgram(n)
        if _contains(nw, (A.Timer, A.ForWithInterval)):
            # a `for T` shape below the top level (under andThen, wait
            # or a boolean combinator) has no condition program yet;
            # its batch form needs the batch-only series column
            raise ValueError(
                "a `for T` condition under andThen, wait or a boolean "
                "combinator is not supported by the incremental kernel "
                "— use the carry-buffer streaming mode (streaming/job.py)"
            )
        c = comp.compile_bool(stream, n)
        if c.has_window or c.present is not None or c.df is not stream:
            raise ValueError(
                "pattern sub-expression needs windowed evaluation the "
                "incremental kernel can't express — use the carry-buffer "
                "streaming mode (streaming/job.py)"
            )
        name = f"__p{pattern_id}c{n_cols}"
        n_cols += 1
        s = s.withColumn(name, c.col)
        return name

    if isinstance(node, A.AndThen):
        conds = [cond_source(c) for c in flatten_chain(node)]
        return s, PatternSpec(
            pattern_id, subunit, _AndThenSM(len(conds)), conds
        )
    if isinstance(node, A.Timer):
        cc = cond_source(node.inner)
        return s, PatternSpec(
            pattern_id, subunit, _TimerSM(node.window_ms), [cc]
        )
    if isinstance(node, A.ForWithInterval):
        inner = cond_source(node.inner)
        # the compiler's full-window ("exactly") rule: wait for a full
        # window when exactly, or when more data could still violate a
        # finite upper bound (_compile_for_interval)
        if node.kind == "times":
            exactly = node.exactly or node.hi is not None
        else:
            exactly = node.exactly or (
                node.hi is not None and node.hi < node.window_ms
            )
        prog = _TruthStatProgram(
            inner, node.window_ms, node.lo, node.hi, node.kind, exactly
        )
        return s, PatternSpec(pattern_id, subunit, _IslandSM(), [prog])
    cc = cond_source(node)
    return s, PatternSpec(pattern_id, subunit, _IslandSM(), [cc])


def stateful_pattern(
    stream: DataFrame,
    pattern: str,
    keys: Sequence[str],
    ts: str,
    fields_types: dict[str, str] | None = None,
    max_gap_ms: int = 60_000,
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Route a single DSL pattern to its incremental kernel."""
    s, spec = build_spec(stream, pattern, keys, ts, fields_types, max_gap_ms)
    out = stateful_multi(s, [spec], keys, ts, max_gap_ms, watermark_delay)
    if isinstance(spec.sm, _AndThenSM):
        return out.select(*keys, "from_ts", "to_ts")
    return out.select(*keys, "from_ts", "to_ts", "n_rows")